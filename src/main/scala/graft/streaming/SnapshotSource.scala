package graft.streaming

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.engine.{ManifestCodec, Snapshots}

/** DataSource-V2 TABLE over a snapshot table — batch AND streaming reads
  * through one provider, so the manifest index stops being an API-only
  * privilege.
  *
  * BATCH (round 10): `spark.read.format("graft.streaming
  * .SnapshotSourceProvider").option("root", root).load()` — or the same
  * frame registered as a temp view and queried with plain `spark.sql` —
  * plans a scan whose PUSHED filters prune FILES through the manifest's
  * stats/bloom/null indexes ([[graft.engine.FilterPrune]], the
  * `sources.Filter` twin of `readWhere`'s Catalyst miner) before a single
  * byte is read, and whose per-file readers apply deletion vectors
  * exactly like the API read path. All pushed filters stay RESIDUAL
  * (Spark re-evaluates them row-exactly on surviving files), so pruning
  * is pure I/O savings — at 100 TB the difference between a time-band
  * query and a full-table outage. The scan also reports exact row counts
  * from the manifest (post-pruning, DV-adjusted) so the optimizer can
  * broadcast a filtered dimension read without a size sample.
  * `.option("version", v)` time-travels the batch scan.
  *
  * STREAMING: `spark.readStream` on the same format string
  * tails the table's commit log as a Structured Streaming source: each
  * micro-batch is exactly the rows the commits since the last batch
  * APPENDED, offsets are snapshot VERSIONS (checkpointed by the engine, so
  * restart resumes exactly-once), and the cost of a trigger is the new
  * files — never the table. The missing half of the engine's streaming
  * story: [[SnapshotSink]] lands streams INTO snapshot tables; this reads
  * tables OUT as streams, so a lake table becomes a replayable feed for
  * downstream incremental pipelines (index maintenance, dimension sync,
  * training-data tailing) with no external queue.
  *
  * A proper DataSource V2 [[MicroBatchStream]], not a polling helper:
  * Spark owns the trigger cadence, offset log, and replay; partitions are
  * planned one-per-added-file from manifest arithmetic ([[Snapshots
  * .diffFiles]] semantics) and each executor-side reader decodes its file
  * through Spark's VECTORIZED parquet reader ([[SnapshotVectorized]] —
  * column-pruned, columnar batches when the batch is DV-free; the
  * column-mapping translation rides the recorded schema, so renamed
  * tables stream under their CURRENT logical names).
  *
  * Options:
  *  - `root` (required): the snapshot table root URI;
  *  - `startingVersion`: `earliest` (default — the whole table as the
  *    first batch, version 0 as the base), `latest` (only commits after
  *    stream start), or an explicit version number (exclusive base);
  *  - `ignoreChanges` (default false): an append-only tail THROWS when a
  *    spanned commit rewrote or vector-deleted rows (merge/delete/
  *    compaction — emitting their files would duplicate or lose rows
  *    downstream); `true` opts into emitting rewritten files' rows anyway
  *    (Delta's ignoreChanges contract, for consumers that key-dedup).
  *
  * Retention caveat: a restart replans its uncommitted batch from the
  * recorded offsets, so [[Snapshots.vacuum]] retention must cover the
  * restart window (same contract as time travel). */
class SnapshotSourceProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotSource.surfacedSchema(SnapshotSource.rootOf(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SnapshotStreamTable(schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

private[streaming] object SnapshotSource {

  /** The micro-batch span contains a commit an append-only tail cannot
    * represent (merge/delete/mixed compaction). Subclasses
    * IllegalArgumentException so existing callers catching that keep
    * working; internal code matches the TYPE, never the message. */
  final class SpanNotAppendOnly(msg: String) extends IllegalArgumentException(msg)

  def rootOf(options: CaseInsensitiveStringMap): String = {
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      "graft snapshot source needs .option(\"root\", <table root URI>)")
    r
  }

  /** The recorded LOGICAL schema of `version` (default: head) with the
    * column-mapping key stripped (what downstream sees) — time travel
    * shows each version its own era's schema. Empty on a not-yet-committed
    * table (a first WRITE must be able to get a Table object; reads guard
    * with a clear error in newScanBuilder instead). */
  def surfacedSchema(root: String, version: Long = -1L): StructType = {
    val spark = SparkSession.active
    val v = if (version > 0) version else Snapshots.headVersion(spark, root)
    if (v == 0) return new StructType()
    val s = Snapshots.parseSchemaStr(Snapshots.manifestMeta(spark, root, v).schema)
      .getOrElse(sys.error(
        s"$root has no recorded schema (legacy manifest) — commit once to record one"))
    StructType(s.fields.map(f => f.copy(metadata = Metadata.empty)))
  }

  /** The newest retained version published at or before `tsMillis` — the
    * wall-clock → version resolution behind `TIMESTAMP AS OF` and the
    * `asOfTimestamp` read option (same rule as [[Snapshots.readAsOf]]:
    * ties to the highest version; throws when everything retained is
    * newer). Commit-record reads only, no shard I/O. */
  def versionAsOf(root: String, tsMillis: Long): Long = {
    val eligible = Snapshots.historyMeta(SparkSession.active, root)
      .filter(_.ts <= tsMillis)
    require(eligible.nonEmpty,
      s"no retained snapshot at $root published at or before $tsMillis")
    eligible.map(_.version).max
  }

  /** `asOfTimestamp` option values: epoch millis (all digits) or a
    * timestamp string — ISO instant (`2026-08-15T00:00:00Z`) or local
    * `yyyy-MM-dd HH:mm:ss[.f]` (session-zone-free: wall clock is taken as
    * the JVM default zone, matching java.sql.Timestamp semantics). */
  def parseAsOfMillis(s: String): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.sql.Timestamp.valueOf(s).getTime
    }

  /** The `_file` METADATA COLUMN: each row's data-file basename.
    * `SELECT _file, * FROM graft.\`t\`` answers row provenance, and the
    * row-level operations' RUNTIME GROUP FILTERING rides it — Spark
    * computes the files holding condition-matching rows as a dynamic
    * subquery and prunes the rewrite's scan to exactly those, so an
    * UPDATE/MERGE whose condition no static index can mine still
    * rewrites only the files it must. */
  val FileCol = "_file"

  val FileMetadataColumn: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "basename of the snapshot data file this row resides in"
    }

  /** EXACT `sources.Filter` → Column translation for SQL DELETE. Unlike
    * [[graft.engine.FilterPrune]] (conservative file pruning, where a
    * miss only costs I/O) this decides WHICH ROWS DIE, so every node must
    * reproduce Spark's own evaluation exactly or refuse: None bubbles up,
    * `canDeleteWhere` answers false, and Spark reports the predicate as
    * untranslatable instead of deleting the wrong rows. Only top-level
    * columns of `schema` translate — a dotted attribute could be either a
    * nested field or a literal dotted name, and guessing is how a DELETE
    * corrupts a table. */
  def filterColumn(schema: StructType, f: Filter): Option[Column] = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.sources._
    def top(a: String): Option[Column] =
      if (schema.fieldNames.contains(a))
        Some(org.apache.spark.sql.functions.col(s"`$a`"))
      else None
    def bin(a: String, v: Any)(op: (Column, Column) => Column): Option[Column] =
      if (v == null) None else top(a).map(c => op(c, lit(v)))
    f match {
      case EqualTo(a, v) => bin(a, v)(_ === _)
      case EqualNullSafe(a, null) => top(a).map(_.isNull)
      case EqualNullSafe(a, v) => bin(a, v)(_ <=> _)
      case GreaterThan(a, v) => bin(a, v)(_ > _)
      case GreaterThanOrEqual(a, v) => bin(a, v)(_ >= _)
      case LessThan(a, v) => bin(a, v)(_ < _)
      case LessThanOrEqual(a, v) => bin(a, v)(_ <= _)
      case In(a, vs) =>
        // Catalyst In: null values in the list never MATCH (they yield
        // null, not true), so translating them with isin is exact for
        // the TRUE-rows-die delete semantics
        top(a).map(_.isin(vs.toSeq.map(lit): _*))
      case IsNull(a) => top(a).map(_.isNull)
      case IsNotNull(a) => top(a).map(_.isNotNull)
      case StringStartsWith(a, v) => top(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => top(a).map(_.endsWith(v))
      case StringContains(a, v) => top(a).map(_.contains(v))
      case And(l, r) =>
        for { x <- filterColumn(schema, l); y <- filterColumn(schema, r) }
          yield x && y
      case Or(l, r) =>
        for { x <- filterColumn(schema, l); y <- filterColumn(schema, r) }
          yield x || y
      case Not(c) => filterColumn(schema, c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** Hadoop conf + session SQL confs flattened for the reader factory —
    * the session overlay is what `sessionState.newHadoopConf()` would add
    * (case sensitivity, session timezone, columnar batch size must reach
    * the executor-side vectorized decoder). */
  def readerConfEntries(spark: SparkSession): Array[(String, String)] = {
    val hc = spark.sparkContext.hadoopConfiguration
    (hc.iterator().asScala.map(e => e.getKey -> e.getValue) ++
      spark.conf.getAll.iterator).toArray
  }

  /** logical → physical column names as of the head (fixed at scan
    * creation; a mid-stream rename breaks loudly rather than silently). */
  def physicalNames(root: String): Map[String, String] = {
    val spark = SparkSession.active
    val head = Snapshots.headVersion(spark, root)
    if (head == 0) return Map.empty // fresh table: logical IS physical
    Snapshots.parseSchemaStr(Snapshots.manifestMeta(spark, root, head).schema)
      .map(s => s.fields.map(f => f.name -> Snapshots.physicalOf(f)).toMap)
      .getOrElse(Map.empty)
  }
}

private[streaming] class SnapshotStreamTable(
    tableSchema: StructType,
    properties: Map[String, String])
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file` (row provenance + runtime group filtering) — hidden if a
    * data column ever claims the name (data wins; no silent shadowing). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (tableSchema.fieldNames.contains(SnapshotSource.FileCol)) Array.empty
    else Array(SnapshotSource.FileMetadataColumn)

  override def name(): String = s"graft-snapshot(${properties.getOrElse("root", "?")})"
  override def schema(): StructType = tableSchema

  /** Hash-clustered tables advertise their layout as a bucket transform
    * (metadata surface; the JOIN machinery keys off the SCAN's reported
    * KeyGroupedPartitioning, which SnapshotScan derives per version). */
  override def partitioning(): Array[Transform] =
    properties.get("root")
      .flatMap(r => Snapshots.clusteringAt(SparkSession.active, r,
        properties.get("version").map(_.toLong).getOrElse(
          Snapshots.headVersion(SparkSession.active, r))))
      .map(c => c.cols.map(cc =>
        Expressions.bucket(c.buckets, cc): Transform).toArray)
      .getOrElse(Array.empty)
  // ACCEPT_ANY_SCHEMA — but only on the format-string path: there the
  // engine's commit owns schema semantics (additive merge on append,
  // fresh schema on overwrite, column-mapping renames) and Spark's
  // validation against the head schema would REJECT the additive
  // evolution commit is designed to accept. A CATALOG-loaded table
  // (`INSERT INTO graft.\`root\``) instead keeps Spark's standard output
  // resolution: SQL inserts are BY POSITION with casts, so an unaliased
  // `INSERT INTO t SELECT id, id` lands in the table's columns rather
  // than arriving under the SELECT's names (which the engine's by-name
  // commit would treat as brand-new columns — silent corruption).
  // Catalog-path schema evolution goes through ALTER TABLE instead.
  override def capabilities(): JSet[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
    (if (properties.get("sqlResolved").contains("true")) base
     else base + TableCapability.ACCEPT_ANY_SCHEMA).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a catalog-loaded table ships its root in the TABLE properties; a
    // format-string read ships it in the per-read options (which also win
    // for per-read settings like version/startingVersion)
    val opts =
      if (options.containsKey("root")) options
      else new CaseInsensitiveStringMap((properties ++
        options.asScala).asJava)
    val root = SnapshotSource.rootOf(opts)
    require(Snapshots.headVersion(SparkSession.active, root) > 0,
      s"no snapshot committed at $root yet — nothing to read or stream")
    new SnapshotScanBuilder(tableSchema, root, opts)
  }

  // ---- SQL DML: DELETE FROM / TRUNCATE TABLE land as engine commits ----

  private def mutableRoot: String = {
    require(!properties.contains("version"),
      "cannot mutate a time-traveled snapshot table (VERSION/TIMESTAMP AS " +
        "OF reads are immutable history) — address the table without AS OF")
    properties.getOrElse("root", sys.error("snapshot table lost its root"))
  }

  /** True iff every filter translates EXACTLY (see
    * [[SnapshotSource.filterColumn]]) and the table is not time-traveled —
    * otherwise Spark surfaces the untranslatable predicate instead of us
    * deleting the wrong rows. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !properties.contains("version") && filters.forall(f =>
      SnapshotSource.filterColumn(tableSchema, f).isDefined)

  /** `DELETE FROM graft.`root` WHERE ...` → the engine's merge-on-read
    * [[Snapshots.deleteWhere]]: stats/bloom-pruned mark scan, positions
    * folded into per-file deletion vectors, copy-on-write only past the
    * DV-fraction cap — the 100 TB delete shape, now one SQL statement. An
    * unconditioned DELETE short-circuits to the O(1) metadata truncate. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val root = mutableRoot
    val spark = SparkSession.active
    if (filters.isEmpty) { Snapshots.truncate(spark, root); return }
    val cond = filters.map(f => SnapshotSource.filterColumn(tableSchema, f)
        .getOrElse(sys.error(s"untranslatable DELETE filter $f — " +
          "canDeleteWhere should have refused this plan")))
      .reduce(_ && _)
    // a provably-constant TRUE condition (DELETE with no WHERE arrives as
    // AlwaysTrue) is a truncate, not a full mark-and-vector scan
    val allRows = filters.forall {
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _ => false
    }
    if (allRows) Snapshots.truncate(spark, root)
    else Snapshots.deleteWhere(spark, root, cond)
  }

  /** SQL TRUNCATE TABLE: O(1) metadata commit keeping schema, retired
    * names, and clustering ([[Snapshots.truncate]]). */
  override def truncateTable(): Boolean = {
    Snapshots.truncate(SparkSession.active, mutableRoot)
    true
  }

  /** SQL UPDATE / MERGE INTO / rewriting DELETE — group-based
    * copy-on-write row-level operations ([[SnapshotRowLevelOperation]]):
    * the condition prunes candidate files statically AND at runtime, the
    * rewrite recomputes those files' rows, and the commit swaps them
    * atomically under a head fence. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val root = mutableRoot
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.RowLevelOperation =
        new SnapshotRowLevelOperation(root, tableSchema, info.command)
    }
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val opts =
      if (info.options.containsKey("root")) info.options
      else new CaseInsensitiveStringMap((properties ++
        info.options.asScala).asJava)
    val root = SnapshotSource.rootOf(opts)
    // the keyed-upsert builder additionally accepts UPDATE output mode
    // (update-as-append marker): an update-mode streaming aggregate's
    // changed-key epochs are exactly what a keyed merge applies
    if (Option(opts.get("upsertKey")).exists(_.trim.nonEmpty))
      new SnapshotUpsertWriteBuilder(root, opts, info)
    else new SnapshotWriteBuilder(root, opts, info)
  }
}

/** BATCH WRITES through the same format string:
  * `df.write.format("graft.streaming.SnapshotSourceProvider")
  * .option("root", root).mode("append"|"overwrite").save()` — a V1Write
  * bridge straight onto [[Snapshots.commit]], so a DSv2 write IS an
  * engine commit: the distributed parquet write job, CHECK-constraint
  * observation, column-mapping translation for appends onto renamed
  * tables, additive schema merge, and the optimistic publish fence all
  * apply identically to API callers and `df.write` callers. Write
  * options: `statsCols` / `bloomCols` (comma-separated) index the new
  * files for pruning; `tag` stamps the commit. Mode `overwrite` is a
  * truncating commit (fresh schema generation, old versions remain
  * time-travelable); `append` is an append commit. */
/** [[SnapshotWriteBuilder]] for keyed-upsert writes (`upsertKey` option):
  * the update-as-append marker lets UPDATE-output-mode streaming queries
  * (e.g. incrementally maintained aggregates) write here — each epoch's
  * changed keys route through the keyed merge. */
private[streaming] class SnapshotUpsertWriteBuilder(
    root: String,
    options: CaseInsensitiveStringMap,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  extends SnapshotWriteBuilder(root, options, info)
  with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend

private[streaming] class SnapshotWriteBuilder(
    root: String,
    options: CaseInsensitiveStringMap,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var overwrite = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      /** Native micro-batch STREAMING write (no foreachBatch wrapper) —
        * one epoch = one tagged append commit, exactly-once on replay
        * ([[SnapshotStreamingWrite]]). Append output mode only: complete
        * mode would truncate the table every trigger. */
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(!overwrite,
          s"streaming writes to $root are append-only — 'complete'/" +
            "'truncate' output would rewrite the whole table every trigger")
        Option(options.get("upsertKey")).map(_.trim).filter(_.nonEmpty) match {
          case Some(k) =>
            def cols(key: String): Seq[String] =
              Option(options.get(key)).toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            new SnapshotUpsertStreamingWrite(root, info.schema(),
              info.queryId(), k, cols("statsCols"),
              orderCol = Option(options.get("upsertOrder"))
                .map(_.trim).filter(_.nonEmpty))
          case None =>
            new SnapshotStreamingWrite(root, info.schema(), info.queryId())
        }
      }
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(
              data: org.apache.spark.sql.DataFrame,
              legacyOverwrite: Boolean): Unit = {
            def cols(k: String): Seq[String] =
              Option(options.get(k)).toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            // hash-clustered layout from the writer API:
            // .option("clusterBy", "key").option("clusterBuckets", "32").
            // An APPEND with no clusterBy option INHERITS the head's
            // recorded spec — `INSERT INTO` / plain `df.write` appends
            // keep a clustered table clustered by default instead of
            // silently declassifying it (.option("clusterBy", "") opts
            // out explicitly; overwrite never inherits — a truncating
            // write is a fresh layout decision).
            val explicit = Option(options.get("clusterBy")).filter(_.nonEmpty)
              .map { c =>
                val n = Option(options.get("clusterBuckets")).getOrElse(sys.error(
                  "clusterBy write option needs clusterBuckets (the bucket count)"))
                // comma-separated for composite keys: "tenant,day"
                (c.split(",").map(_.trim).filter(_.nonEmpty).toSeq, n.toInt)
              }
            val spark0 = data.sparkSession
            val inherited =
              if (overwrite || options.containsKey("clusterBy")) None
              else {
                val headV = Snapshots.headVersion(spark0, root)
                if (headV > 0) Snapshots.clusteringAt(spark0, root, headV)
                else None
              }
            Snapshots.commit(data, root,
              append = !overwrite,
              statsCols = cols("statsCols"),
              tag = options.getOrDefault("tag", ""),
              bloomCols = cols("bloomCols"),
              clusterBy = explicit.orElse(inherited.map(c => (c.cols, c.buckets))),
              clusterSorted =
                if (explicit.isDefined) options.getBoolean("clusterSorted", false)
                else inherited.exists(_.sorted))
          }
        }
    }
}

/** Test-visible probe: counts [[SnapshotScanBuilder.aggAnswerMemo]] MISSES
  * (i.e. actual `aggAnswer` manifest resolves). Spark's pushdown rule calls
  * `supportCompletePushDown` then `pushAggregation` on the same builder with
  * the same Aggregation — the memo must make that ONE resolve, and the spec
  * pins it via this counter (suites run sequentially in the forked JVM). */
private[graft] object AggPushProbe {
  val misses = new java.util.concurrent.atomic.AtomicLong(0L)
}

private[streaming] class SnapshotScanBuilder(
    fullSchema: StructType,
    root: String,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[Array[Any]], String)] = None
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(String, Boolean)] = None // (col, descending)

  /** Time travel, resolved once per scan: an explicit `version` option
    * wins; else `asOfTimestamp` (epoch millis or timestamp string — see
    * [[SnapshotSource.parseAsOfMillis]]) resolves by publish wall clock;
    * else the head. A catalog `VERSION AS OF` / `TIMESTAMP AS OF` load
    * arrives here as a table-property-merged `version` option. */
  private lazy val travelVersion: Option[Long] =
    Option(options.get("version")).map(_.toLong)
      .orElse(Option(options.get("asOfTimestamp")).map(s =>
        SnapshotSource.versionAsOf(root, SnapshotSource.parseAsOfMillis(s))))

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep full-schema field order/types; the pruner passes a subset.
    // The `_file` metadata column (never in fullSchema) rides LAST —
    // the readers synthesize it per file, the parquet read never sees it
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)) ++
      requiredSchema.fields.filter(_.name == SnapshotSource.FileCol)
        .map(_ => StructField(SnapshotSource.FileCol, StringType, nullable = false)))

  // ---- EXACT filter claim (round 18): by default every filter stays
  // RESIDUAL (returned for Spark to re-evaluate row-exactly) and the
  // minable subset is used for FILE pruning only — a conservative index
  // can never drop a row. But when the manifest PROVES the whole pushed
  // conjunction exact — every file it OVERLAPS is also FULLY accepted by
  // every conjunct ([[graft.engine.FilterPrune.fullAccept]], zero nulls +
  // the shared 2^53/p≤15 injectivity rule) — the scan's output over the
  // pruned files IS the filtered result, row for row: files outside the
  // overlap hold no satisfying row, files inside hold ONLY satisfying
  // rows. The builder then claims the conjunction (returns no residuals),
  // which removes Spark's Filter node and unlocks the pushdowns a
  // residual always blocked: grouped/ungrouped AGGREGATES over a band
  // ("revenue per priority WHERE day BETWEEN …" in O(manifest)) and
  // LIMIT/TOP-N file capping under a filter. The proof pins the manifest
  // VERSION it mined (`minedVersion`), and the scan plans at exactly that
  // version — a concurrent commit can't shift the file set under the
  // claim (same snapshot-isolation contract as the aggregate answer).
  // Batch-only by construction: streaming scans never pass through
  // Spark's V2 pushdown rule. Row-level rewrites opt out
  // ([[SnapshotRowLevelOperation]] overrides the flag): their CoW commit
  // must see residual-complete semantics, never a claimed subset.
  private var exactPushed: Boolean = false
  private var minedVersion: Option[Long] = None
  protected def allowExactFilterClaim: Boolean = true

  // ONE manifest resolve per compile: the claim proof (pushFilters), the
  // aggregate answer, and the constructed scan's plan-time prune all read
  // the same pinned version — cache the (version, manifest) pair on the
  // builder and hand it to the scan, instead of three full resolves of
  // O(table metadata) per filtered query
  private var mCache: Option[(Long, Snapshots.Manifest)] = None
  private def manifestAt(spark: SparkSession, v: Long): Snapshots.Manifest =
    mCache match {
      case Some((cv, m)) if cv == v => m
      case _ =>
        val m = Snapshots.manifest(spark, root, v)
        mCache = Some((v, m))
        m
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(graft.engine.FilterPrune.minable(fullSchema, _))
    if (allowExactFilterClaim && filters.nonEmpty) {
      val spark = SparkSession.active
      val v = travelVersion.getOrElse(Snapshots.headVersion(spark, root))
      if (v > 0) {
        val m = manifestAt(spark, v)
        // the strictness-aware set the scan will plan under the claim —
        // the closed-band prune would re-admit a strict-boundary file
        // whose rows all fail, and with no residual left they would leak
        val overlap =
          graft.engine.FilterPrune.exactPrune(m, fullSchema, pushed.toSeq).toSet
        val full = filters.iterator
          .map(graft.engine.FilterPrune.fullAccept(m, fullSchema, _))
          .reduce(_ intersect _)
        if (overlap.subsetOf(full)) {
          pushed = filters // all claimed — honest pushedFilters report
          exactPushed = true
          minedVersion = Some(v)
          return Array.empty
        }
      }
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ---- LIMIT / TOP-N pushdown: always PARTIAL (Spark keeps its own
  // Limit/TakeOrdered on top; the scan only plans FEWER FILES — just
  // enough whose recorded live rows provably cover the limit, see
  // [[graft.engine.FilterPrune.capForLimit]]/[[capForTopN]]). Spark only
  // offers these on a filterless scan (every filter here stays residual,
  // so a Filter node always blocks the rewrite when one exists); the
  // plan-time guard in planInputPartitions re-checks anyway. ----

  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit); true
  }

  /** TOP-N capping keys on the FIRST sort key only (sound for any
    * lexicographic suffix: the n smallest rows all carry first-key values
    * ≤ the n-th smallest first-key value). Accepted only for a direct
    * column of a bounds-faithful type under the DEFAULT null ordering —
    * everything else declines and Spark plans its ordinary global sort. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    val ok = orders.headOption.flatMap { o =>
      o.expression() match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          val desc = o.direction() == SortDirection.DESCENDING
          val defaultNulls =
            if (desc) o.nullOrdering() == NullOrdering.NULLS_LAST
            else o.nullOrdering() == NullOrdering.NULLS_FIRST
          val prunable = fullSchema.fields.find(_.name == r.fieldNames.head)
            .exists(_.dataType match {
              case ByteType | ShortType | IntegerType | LongType | DateType |
                   TimestampType | TimestampNTZType | _: DecimalType |
                   StringType => true
              case _ => false // float/double: NaN is invisible to bounds
            })
          if (defaultNulls && prunable) Some((r.fieldNames.head, desc)) else None
        case _ => None
      }
    }
    ok.foreach { t => pushedTopN = Some(t); pushedLimit = Some(limit) }
    ok.isDefined
  }

  override def isPartiallyPushed(): Boolean = true

  // ---- AGGREGATE pushdown: a COUNT(*) / COUNT(col) / MIN(col) /
  // MAX(col) mix — ungrouped, or GROUP BY columns on which every file is
  // single-valued — answers from the manifest alone: per-file recorded
  // row counts, null counts, and column ranges; zero data I/O (the DSv2
  // twin of the native count rewrite, q110, and of
  // [[Snapshots.statsRange]]). Complete pushdown: the scan emits the
  // final row(s), one per group. GROUP BY qualifies when every live
  // file's stats PIN each group column to one non-null value (numeric
  // min==max, string slo==shi — truncated bounds that coincide still pin
  // the value — with a recorded zero null count): the natural layout of
  // an ingest that appends one partition-key value per batch (per-day
  // event commits), where "rows per day" then costs O(manifest) instead
  // of a 100 TB scan. Declined whole (never partially) when ANY
  // requested aggregate or group key is not provably exact from metadata:
  //  - any pushed filter (ours are file-level, never row-exact; Spark
  //    also refuses aggregates over post-scan filters on its own — the
  //    guard here is belt and braces);
  //  - a head file predating the row-count / stats index, or a group
  //    column any file doesn't pin single-valued;
  //  - a live deletion vector, for COUNT(col) (deleted rows' null-ness is
  //    unknowable) and SUM (their contribution is); COUNT(*) subtracts
  //    per-file cardinalities exactly — sound per group too, since a
  //    single-valued file belongs wholly to its group — and MIN/MAX still
  //    answer when the winning bound comes from a vector-FREE file with
  //    every vectored file's bound on the losing side (a vector only
  //    removes rows); the winner hiding in a vectored file declines;
  //  - MIN/MAX on a type the double-cast stats can't reproduce EXACTLY:
  //    int/date (always exact), long and timestamps within ±2^53 (checked
  //    per value; the index records exact epoch micros since round 17),
  //    decimals of precision ≤ 15 (injective through a double — round 18,
  //    the money-column case: MIN/MAX(price) and decimal GROUP BY keys);
  //    float/double are excluded for NaN semantics (parquet footer stats
  //    omit NaN; Spark's MAX ranks NaN above every value).
  // Streaming never sees this: aggregate pushdown only runs on batch v2
  // relations.

  private def aggAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    // a pushed filter declines UNLESS the builder claimed the conjunction
    // EXACT (round 18): under the claim the filtered table IS exactly the
    // overlap files' live rows, so the answer restricts to that file set
    // and the unfiltered machinery below applies unchanged — the flagship
    // band+GROUP BY rollup in O(manifest)
    if (pushed.nonEmpty && !exactPushed) return None
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
      case _ => return None
    }
    val spark = SparkSession.active
    val v = travelVersion.orElse(minedVersion)
      .getOrElse(Snapshots.headVersion(spark, root))
    if (v <= 0) return None
    val m = manifestAt(spark, v)
    if (m.files.isEmpty) return None // empty-table MIN is null — let Spark plan it
    val files =
      if (exactPushed && pushed.nonEmpty)
        graft.engine.FilterPrune.exactPrune(m, fullSchema, pushed.toSeq)
      else m.files
    // an empty claimed band: decline — Spark's scan of zero files yields
    // the correct empty grouped / null-extremum ungrouped result natively
    if (files.isEmpty) return None
    val names = files.map(f => new Path(f).getName)
    val rowsByName = m.rows.map(r => r.file -> r.n).toMap
    val rowsComplete = names.forall(rowsByName.contains)
    val anyDv = m.dvs.exists(_.deleted > 0)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
        case _ => None
      }
    // the double-cast stat value converted back to the column's type, iff
    // provably the exact original value — the one shared 2^53/p≤15 rule
    // ([[Snapshots.exactValue]]; round 18 adds the DecimalType arm, so
    // MIN/MAX(price) and GROUP BY on a decimal key answer from the manifest)
    def exact(dt: DataType, d: Double): Option[Any] = Snapshots.exactValue(dt, d)
    // exact-total → (catalyst value, Spark's Sum result type), None when
    // the total can't be represented there (the scan then computes it
    // natively, overflow semantics and all)
    def sumResult(dt: DataType, total: java.math.BigDecimal): Option[(Any, DataType)] =
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          try Some((total.longValueExact(): Any, LongType))
          catch { case _: ArithmeticException => None }
        case d: DecimalType =>
          val p = math.min(38, d.precision + 10)
          val dec = org.apache.spark.sql.types.Decimal(total)
          if (dec.changePrecision(p, d.scale)) Some((dec: Any, DecimalType(p, d.scale)))
          else None
        case _ => None
      }
    val statsByColFile = m.stats.map(s => (s.col, s.file) -> s).toMap
    // one group tuple per live file (catalyst-encoded values): ungrouped
    // = the single empty tuple; grouped = every file must PIN every group
    // column to one non-null value, else the whole pushdown declines
    def groupValue(s: Snapshots.ColStats, dt: DataType): Option[Any] = dt match {
      case StringType if s.slo != null && s.slo == s.shi && s.nulls == 0L =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s.slo))
      case _ if s.slo == null && s.min == s.max && s.nulls == 0L =>
        exact(dt, s.min)
      case _ => None
    }
    val groupFields: Seq[StructField] =
      groupCols.map(c => fullSchema.fields.find(_.name == c).getOrElse(return None))
    val tupleOf: Map[String, Seq[Any]] =
      if (groupCols.isEmpty) names.map(_ -> (Nil: Seq[Any])).toMap
      else names.map { n =>
        n -> groupCols.zip(groupFields).map { case (c, f) =>
          statsByColFile.get((c, n)).flatMap(groupValue(_, f.dataType))
            .getOrElse(return None)
        }
      }.toMap
    // groups in file order of first appearance (deterministic output)
    val groups: Seq[(Seq[Any], Seq[String])] = {
      val order = scala.collection.mutable.LinkedHashMap
        .empty[Seq[Any], scala.collection.mutable.Buffer[String]]
      names.foreach(n =>
        order.getOrElseUpdate(tupleOf(n), scala.collection.mutable.Buffer.empty) += n)
      order.toSeq.map { case (g, ns) => g -> ns.toSeq }
    }
    val dvdByName = m.dvs.map(d => d.file -> d.deleted).toMap
    // SQL GROUP BY emits NO row for a group with zero live rows — a group
    // whose every file is fully deletion-vectored (reachable via
    // deleteWhere(maxDvFraction = 1.0): classification keeps a 100% vector
    // merge-on-read) must be suppressed, not answered as (group, 0).
    // Ungrouped COUNT(*) = 0 stays correct and is NOT suppressed. When live
    // counts are unprovable (row counts incomplete) under any vector, the
    // grouped pushdown declines whole — REACHABLE since round 17's
    // MIN/MAX/COUNT(col)-under-vector refinements, which no longer require
    // a vector-free table: without this fence a group whose every live row
    // is deleted could answer where SQL emits no row.
    val liveGroups: Seq[(Seq[Any], Seq[String])] =
      if (groupCols.isEmpty) groups
      else if (rowsComplete) groups.filter { case (_, fs) =>
        fs.map(n => rowsByName(n) - dvdByName.getOrElse(n, 0L)).sum > 0L }
      else if (anyDv) return None
      else groups
    // every group vectored away: decline — Spark's scan of the (DV-filtered)
    // files produces the correct empty grouped result
    if (groupCols.nonEmpty && liveGroups.isEmpty) return None
    // Range entries of `c` over `fs`: every file must carry either a
    // range entry or a provably ALL-NULL tombstone (nulls == recorded
    // rows). An all-null file contributes NOTHING to COUNT(col)/
    // COUNT(DISTINCT)/MIN/MAX/SUM/AVG — they all ignore nulls — so it is
    // simply omitted from the returned entries (round 19: sparse optional
    // columns no longer decline the whole pushdown). A NaN tombstone
    // (nulls < rows, float/double) declines: its rows hold values the
    // recorded bounds cannot see. All-files-all-null yields Some(empty),
    // which every consumer already declines (native NULL semantics).
    val tombByColFile = m.tombs.map(t => (t.col, t.file) -> t).toMap
    def statsOver(fs: Seq[String], c: String): Option[Seq[Snapshots.ColStats]] = {
      val parts: Seq[Option[Option[Snapshots.ColStats]]] = fs.map { n =>
        statsByColFile.get((c, n)).map(Some(_): Option[Snapshots.ColStats])
          .orElse(tombByColFile.get((c, n)).collect {
            case t if t.nulls >= 0L && rowsByName.get(n).contains(t.nulls) =>
              None: Option[Snapshots.ColStats]
          })
      }
      if (parts.exists(_.isEmpty)) None else Some(parts.flatten.flatten)
    }
    // MIN/MAX under deletion vectors (round 17 refinement): a vector can
    // only REMOVE rows, so when the recorded extremum comes from a CLEAN
    // (vector-free) file and every vectored file's bound is on the losing
    // side, the clean bound IS the true extremum — exact. The winner
    // hiding in a vectored file (its extreme row may be deleted) still
    // declines, as does a group with no clean file at all.
    def extremum(fs: Seq[String],
        e: org.apache.spark.sql.connector.expressions.Expression,
        isMin: Boolean): Option[(StructField, Any, String)] =
      for {
        c <- colOf(e)
        f <- fullSchema.fields.find(_.name == c)
        st <- statsOver(fs, c)
        (dirty, clean) = st.partition(s => dvdByName.getOrElse(s.file, 0L) > 0L)
        if clean.nonEmpty
        d = if (isMin) clean.map(_.min).min else clean.map(_.max).max
        if dirty.isEmpty || {
          val dd = if (isMin) dirty.map(_.min).min else dirty.map(_.max).max
          if (isMin) d <= dd else d >= dd
        }
        value <- exact(f.dataType, d)
        fn = if (isMin) "MIN" else "MAX"
      } yield (StructField(s"${fn.toLowerCase}($c)", f.dataType, nullable = false),
        value, s"$fn($c)")
    def answersFor(fs: Seq[String]): Array[Option[(StructField, Any, String)]] =
      agg.aggregateExpressions.map {
        case _: CountStar if rowsComplete =>
          Some((StructField("count(*)", LongType, nullable = false),
            (fs.map(rowsByName).sum -
              fs.map(n => dvdByName.getOrElse(n, 0L)).sum): Any,
            "COUNT(*)"))
        // COUNT(col) = rows minus nulls; a vectored file still answers
        // when its recorded null count is ZERO (every live row is then
        // non-null: count = live rows). A vectored file WITH nulls
        // declines — whether the deleted rows were the null ones is
        // unknowable from metadata.
        case cnt: Count if !cnt.isDistinct && rowsComplete =>
          for {
            c <- colOf(cnt.column)
            st <- statsOver(fs, c)
            if st.forall(_.nulls >= 0L)
            if st.forall(s => dvdByName.getOrElse(s.file, 0L) == 0L || s.nulls == 0L)
          } yield (StructField(s"count($c)", LongType, nullable = false),
            st.map(s => rowsByName(s.file) - dvdByName.getOrElse(s.file, 0L) -
              (if (dvdByName.getOrElse(s.file, 0L) == 0L) s.nulls else 0L)).sum: Any,
            s"COUNT($c)")
        // COUNT(DISTINCT col) when every file PINS col single-valued
        // (numeric min==max / string slo==shi, zero nulls): the distinct
        // set is exactly the pinned values of files with ≥1 live row —
        // "how many sources/days" in O(manifest). Exact under vectors via
        // live counts (a fully-vectored file's value may be gone).
        case cnt: Count if cnt.isDistinct && rowsComplete =>
          for {
            c <- colOf(cnt.column)
            f <- fullSchema.fields.find(_.name == c)
            st <- statsOver(fs, c)
            pinned = st.map(s => groupValue(s, f.dataType).map(v =>
              v -> (rowsByName(s.file) - dvdByName.getOrElse(s.file, 0L))))
            if pinned.forall(_.isDefined)
          } yield (StructField(s"count(DISTINCT $c)", LongType, nullable = false),
            pinned.flatten.groupBy(_._1).count(_._2.map(_._2).sum > 0L).toLong: Any,
            s"COUNT(DISTINCT $c)")
        case mn: Min => extremum(fs, mn.column, isMin = true)
        case mx: Max => extremum(fs, mx.column, isMin = false)
        // SUM answers from the exact per-file sums the stats pass records
        // (integral/decimal only — never floats, whose summation is
        // order-dependent). Requires every file's entry to carry one
        // (footer-mined stats don't — decline whole) and no live vector
        // on the ANSWERED file set (deleted rows' contributions are
        // unknowable) — per GROUP, not table-wide (round 18): a vector
        // confined to another group's files must not decline this one.
        // The total is exact decimal arithmetic; it converts to Spark's
        // Sum result type only when it provably fits (long overflow /
        // precision escape decline, preserving the engine's native
        // overflow behavior).
        case sm: Sum if !sm.isDistinct =>
          for {
            c <- colOf(sm.column)
            f <- fullSchema.fields.find(_.name == c)
            if fs.forall(n => dvdByName.getOrElse(n, 0L) == 0L)
            st <- statsOver(fs, c)
            sums = st.map(Snapshots.recordedSum) // "!" overflow sentinel = no sum
            if st.nonEmpty && sums.forall(_.isDefined)
            total = sums.map(_.get).reduce(_.add(_))
            out <- sumResult(f.dataType, total)
          } yield (StructField(s"sum($c)", out._2, nullable = false),
            out._1, s"SUM($c)")
        // AVG from the same metadata SUM uses: exact total over the
        // answered files divided by their exact non-null row count —
        // DECIMAL columns only, where Spark's own Average is exact
        // decimal arithmetic (sum buffer decimal(p+10, s), result
        // decimal(p+4, s+4), HALF_UP division) that the manifest can
        // reproduce bit-for-bit. Integral/float inputs decline: Spark
        // sums them in a DOUBLE buffer, so the native result is
        // order-dependent and a metadata answer could differ in the last
        // ulp. Same guards as SUM (recorded sums, no vector on the
        // answered set) plus recorded null counts (AVG averages the
        // NON-NULL rows only) and a provably non-empty group (the
        // all-null AVG is NULL — let the scan produce it).
        case av: Avg if !av.isDistinct && rowsComplete =>
          for {
            c <- colOf(av.column)
            f <- fullSchema.fields.find(_.name == c)
            d <- f.dataType match {
              case dt: DecimalType if dt.precision + 4 <= 38 => Some(dt)
              case _ => None
            }
            if fs.forall(n => dvdByName.getOrElse(n, 0L) == 0L)
            st <- statsOver(fs, c)
            sums = st.map(Snapshots.recordedSum) // "!" overflow sentinel = no sum
            if st.nonEmpty && sums.forall(_.isDefined) && st.forall(_.nulls >= 0L)
            cnt = st.map(s => rowsByName(s.file) - s.nulls).sum
            if cnt > 0L
            total = sums.map(_.get).reduce(_.add(_))
            // the total must fit Spark's SUM BUFFER decimal(min(38,p+10),s):
            // past it the native Average overflows to NULL (non-ANSI), and
            // a numeric metadata answer would diverge — decline, same as SUM
            buf = org.apache.spark.sql.types.Decimal(total)
            if buf.changePrecision(math.min(38, d.precision + 10), d.scale)
            q = total.divide(java.math.BigDecimal.valueOf(cnt),
              d.scale + 4, java.math.RoundingMode.HALF_UP)
            dec = org.apache.spark.sql.types.Decimal(q)
            if dec.changePrecision(d.precision + 4, d.scale + 4)
          } yield (StructField(s"avg($c)",
            DecimalType(d.precision + 4, d.scale + 4), nullable = false),
            dec: Any, s"AVG($c)")
        case _ => None
      }
    val perGroup = liveGroups.map { case (g, fs) => g -> answersFor(fs) }
    if (perGroup.exists(_._2.exists(_.isEmpty))) None
    else {
      val aggFields = perGroup.head._2.flatten.map(_._1)
      val schema = StructType(groupFields.map(f =>
        StructField(f.name, f.dataType, nullable = false)) ++ aggFields)
      val rows = perGroup.map { case (g, ans) =>
        (g ++ ans.flatten.map(_._2)).toArray }
      val descr =
        (if (groupCols.isEmpty) ""
         else groupCols.mkString("group by [", ", ", "] ")) +
          perGroup.head._2.flatten.map(_._3).mkString("[", ", ", "]")
      Some((schema, rows, descr))
    }
  }

  // Spark's pushdown rule asks supportCompletePushDown THEN pushAggregation
  // with the SAME Aggregation instance — memoize by reference so one
  // compile resolves the manifest and builds the groups ONCE, not twice
  // (O(manifest) driver work; round-18 close of the r17 cost note).
  private var aggMemo:
      Option[(AnyRef, Option[(StructType, Seq[Array[Any]], String)])] = None
  private def aggAnswerMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]], String)] = aggMemo match {
    case Some((k, v)) if k eq agg => v
    case _ =>
      AggPushProbe.misses.incrementAndGet()
      val v = aggAnswer(agg)
      aggMemo = Some((agg, v))
      v
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggAnswerMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val a = aggAnswerMemo(agg)
    a.foreach(x => pushedAgg = Some(x))
    a.isDefined
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows, descr)) =>
      new SnapshotAggScan(root, schema, rows,
        descr + (if (exactPushed && pushed.nonEmpty)
          pushed.mkString(" ExactPushedFilters: [", ", ", "]") else ""))
    case None => new SnapshotScan(required, fullSchema, root,
      options.getOrDefault("startingVersion", "earliest"),
      options.getBoolean("ignoreChanges", false),
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      pushed,
      travelVersion.orElse(minedVersion), // claim proof pins the snapshot
      pushedLimit,
      pushedTopN,
      Option(options.get("maxBytesPerTrigger")).map(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes),
      exactPushed,
      mCache)
  }
}

/** The metadata-rows scan a completely-pushed aggregation builds: no
  * file is opened — every value came from the manifest at build time.
  * One row when ungrouped, one per group under a pushed GROUP BY. */
private[streaming] class SnapshotAggScan(
    root: String, schema: StructType, rows: Seq[Array[Any]], descr: String)
  extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def description(): String =
    s"graft-snapshot-agg $root PushedAggregates: $descr"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotAggPartition(rows))

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotAggReaderFactory
}

private[streaming] case class SnapshotAggPartition(rows: Seq[Array[Any]])
  extends InputPartition

private[streaming] object SnapshotAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[SnapshotAggPartition].rows.iterator
      private var row: Array[Any] = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(row)
      override def close(): Unit = ()
    }
}

private[streaming] class SnapshotScan(
    required: StructType,
    fullSchema: StructType,
    root: String,
    startingVersion: String,
    ignoreChanges: Boolean,
    maxFilesPerTrigger: Option[Int],
    pushed: Array[Filter] = Array.empty,
    version: Option[Long] = None,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(String, Boolean)] = None,
    maxBytesPerTrigger: Option[Long] = None,
    // the builder PROVED every pushed filter exact over the (pinned)
    // manifest: pruned files need no residual re-evaluation, so the
    // limit/top-n file caps — normally forfeited under a filter because
    // recorded rows would overestimate output rows — stay sound
    exactPushed: Boolean = false,
    // the builder's already-resolved manifest (version-tagged): reused by
    // `resolved` when the versions agree, so a filtered compile costs one
    // metadata resolve, not one per consumer
    preResolved: Option[(Long, Snapshots.Manifest)] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-snapshot $root" +
      (if (pushed.isEmpty) ""
       else pushed.mkString(
         if (exactPushed) " ExactPushedFilters: [" else " PushedFilters: [",
         ", ", "]")) +
      pushedTopN.map { case (c, d) =>
        s" PushedTopN: [$c ${if (d) "DESC" else "ASC"}, ${pushedLimit.getOrElse(-1)}]"
      }.getOrElse(pushedLimit.map(n => s" PushedLimit: $n").getOrElse(""))

  // set the moment the scan is claimed for streaming: the stats below
  // describe the HEAD SNAPSHOT, which is the right answer for a batch scan
  // but not for a micro-batch (whose input is a commit diff) — and forcing
  // `resolved` would make a stream over a not-yet-committed table fail at
  // planning instead of waiting for data.
  // Spark-ordering assumption: MicroBatchExecution calls toMicroBatchStream
  // when it builds the execution plan, BEFORE any estimateStatistics on the
  // scan — if a future Spark computed stats first, head-snapshot counts
  // would again be attributed to commit-diff input (wrong cardinality, not
  // wrong rows). Pinned by SnapshotStatsSpec so a version bump surfaces it.
  @volatile private var streamingUse = false

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    streamingUse = true
    new SnapshotMicroBatchStream(root, required, startingVersion, ignoreChanges,
      maxFilesPerTrigger, maxBytesPerTrigger)
  }

  // ---- batch half: manifest-index file pruning + DV-aware readers ----

  private def spark = SparkSession.active

  /** (manifest, surviving files) — resolved ONCE per scan from the STATIC
    * pushed filters: the pruned set feeds both the statistics report and
    * (absent runtime filters) partition planning, so the optimizer's row
    * estimate and the executed scan can't disagree at plan time. */
  private lazy val resolved: (Snapshots.Manifest, Seq[String]) = {
    val v = version.getOrElse(Snapshots.headVersion(spark, root))
    require(v > 0, s"no snapshot committed at $root yet")
    val m = preResolved.collect { case (cv, pm) if cv == v => pm }
      .getOrElse(Snapshots.manifest(spark, root, v))
    // an exact claim MUST plan the strictness-aware set its proof covered
    // (the builder pins `version`, so this recompute sees the same
    // manifest): a closed-band boundary file's rows would leak with no
    // residual Filter left to drop them
    val kept =
      if (exactPushed) graft.engine.FilterPrune.exactPrune(m, fullSchema, pushed.toSeq)
      else graft.engine.FilterPrune.prune(m, fullSchema, pushed.toSeq)
    (m, kept)
  }

  // ---- dynamic file pruning (SupportsRuntimeFiltering): when this scan
  // is the probe side of a join, Spark evaluates the build side first and
  // hands the join-key value set here as an In() filter BEFORE partitions
  // are planned — the manifest's stats/bloom indexes then drop every file
  // whose range/bloom excludes all build-side keys. The DSv2 twin of the
  // native path's DPP evidence (q82): a dimension-filtered fact scan reads
  // only the matching fact files, not the whole table.

  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  /** Row-level-operation hook ([[SnapshotRowLevelOperation]]): receives
    * the FINAL (post-runtime-filter) planned file list on every planning
    * pass, so the copy-on-write commit replaces exactly the files whose
    * rows the rewrite read. Null outside row-level scans. */
  @volatile private[streaming] var onPlanned: Seq[String] => Unit = null

  /** Advertise only columns the manifest can actually prune on (stats or
    * bloom indexed): a runtime IN-set on anything else cannot shrink the
    * file list, so asking Spark to materialize it would cost a driver-side
    * subquery for nothing. Restricted to the scan's OUTPUT (`required`) —
    * Spark resolves these refs against the pruned projection. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // a scan carrying `_file` is a row-level rewrite's scan: advertise
    // ONLY the file column — its runtime IN-set is bounded by the file
    // count, whereas a data column's matching-value set is unbounded
    // (collecting millions of keys onto the driver is the failure mode
    // group filtering exists to avoid)
    if (required.fieldNames.contains(SnapshotSource.FileCol))
      return Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(SnapshotSource.FileCol))
    val (m, _) = resolved
    val indexed = (m.stats.map(_.col) ++ m.blooms.map(_.col)).toSet
    required.fieldNames.filter(indexed)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  override def toBatch: Batch = this

  // ---- storage-partitioned joins (SupportsReportPartitioning): a table
  // the engine hash-clustered at write time (commit's clusterBy — see
  // Snapshots.Clustering) reports KeyGroupedPartitioning over
  // bucket(n, col), and each planned partition carries its file's bucket
  // id as the partition key. Loaded through SnapshotCatalog (which serves
  // the bucket function), two tables clustered on their join keys with
  // the same bucket count then join with ZERO shuffle on either side.

  /** The manifest's clustering spec, validated against the kept files:
    * Some only when every surviving file's name recovers its key — the
    * part index for a single-column spec, the `-g<i>-<j>` grid suffix for
    * a composite one — with every id below the spec's count
    * (write-invariant recovery; anything else — adopted files, foreign
    * names — degrades to unclustered, never to a wrong partition key). */
  private lazy val clustered: Option[Snapshots.Clustering] = {
    val (m, kept) = resolved
    m.clustering.filter(c => kept.forall(u => keyOfFile(u, c).isDefined))
  }

  /** The partition-key ids of one file under spec `c`, or None when
    * unrecoverable/out-of-range. */
  private def keyOfFile(uri: String, c: Snapshots.Clustering): Option[Seq[Int]] = {
    val name = new Path(uri).getName
    val ids =
      if (c.cols.size == 1) Snapshots.bucketOfFile(name).map(Seq(_))
      else Snapshots.gridOfFile(name, c.cols.size)
    ids.filter(_.forall(i => i >= 0 && i < c.buckets))
  }

  override def outputPartitioning(): Partitioning = {
    // a micro-batch's input is a commit diff, not the head layout; and an
    // unclustered (or unverifiable) table has no grouping to report.
    // Composite specs report one SINGLE-COLUMN bucket transform per key
    // (Spark's SPJ resolution only honors single-reference bucket
    // transforms) with the file's grid-cell tuple as the partition key.
    if (streamingUse) return new UnknownPartitioning(0)
    clustered match {
      case Some(c) =>
        val (_, kept) = resolved
        val distinct = kept.flatMap(u => keyOfFile(u, c)).distinct.size
        new KeyGroupedPartitioning(
          c.cols.map(cc => Expressions.bucket(c.buckets, cc)
            : org.apache.spark.sql.connector.expressions.Expression).toArray,
          distinct)
      case None => new UnknownPartitioning(0)
    }
  }

  /** Per-partition sort order (SupportsReportOrdering): a sorted
    * clustering spec ([[Snapshots.Clustering]] with `sorted`) asserts
    * every FILE's rows ascend on the cluster key — reported ONLY when
    * every planned partition is exactly one whole file and no two files
    * share a bucket, because Spark may fuse same-key partitions (grouped
    * SPJ reads, byte ranges) into one task whose concatenation it would
    * then wrongly trust as sorted. Under the report, a co-clustered
    * sort-merge join plans with neither exchanges NOR sorts — the scan
    * feeds the merge directly. Runtime filters only SHRINK the file set,
    * so a plan-time report stays valid at execution. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (streamingUse) return Array.empty
    clustered.filter(_.sorted) match {
      case Some(c) if c.cols.forall(required.fieldNames.contains) =>
        val parts = planInputPartitions()
        val whole = parts.forall {
          case p: SnapshotFilePartition => p.start == 0L && p.length == -1L
          case _ => false
        }
        val oneFilePerBucket = parts.length ==
          parts.collect { case p: SnapshotFilePartition => p.key }.distinct.length
        if (whole && oneFilePerBucket)
          c.cols.map(cc => Expressions.sort(Expressions.column(cc),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
        else Array.empty
      case _ => Array.empty
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (m, kept) = resolved
    // `_file` runtime filters (row-level group filtering) name files
    // directly by basename; everything else mines the stats/bloom index
    val (fileFilters, dataFilters) = runtimeFilters.partition {
      case org.apache.spark.sql.sources.In(SnapshotSource.FileCol, _) => true
      case org.apache.spark.sql.sources.EqualTo(SnapshotSource.FileCol, _) => true
      case _ => false
    }
    val fileKept =
      if (fileFilters.isEmpty) kept
      else {
        val allowed = fileFilters.iterator.flatMap {
          case org.apache.spark.sql.sources.In(_, vs) =>
            vs.iterator.map(String.valueOf)
          case org.apache.spark.sql.sources.EqualTo(_, v) =>
            Iterator.single(String.valueOf(v))
          case _ => Iterator.empty[String]
        }.toSet
        kept.filter(u => allowed.contains(new Path(u).getName))
      }
    val finalKept =
      if (dataFilters.isEmpty) fileKept
      else fileKept.toSet.intersect(
        graft.engine.FilterPrune.prune(m, fullSchema, dataFilters.toSeq)
          .toSet).toSeq
    // pushed LIMIT / TOP-N cap: plan only files whose recorded live rows
    // already cover the limit (TOP-N: only files that can hold a top row
    // under the stats threshold). Strictly a file-count reduction — Spark
    // retains its own Limit/TakeOrdered above the partial pushdown — and
    // only on a filterless or EXACT-claimed, non-row-level scan: a
    // residual filter would make per-file row counts an overestimate of
    // output rows (under the exact claim every planned file's live rows
    // ARE output rows, so the cap stands — "latest n in the band" plans
    // boundary files, not the band), and a CoW rewrite must see every
    // file it might replace.
    val (capped, topNThreshold) =
      if ((pushed.nonEmpty && !exactPushed) ||
          runtimeFilters.nonEmpty || onPlanned != null ||
          required.fieldNames.contains(SnapshotSource.FileCol))
        (finalKept, None: Option[Filter])
      else pushedTopN match {
        case Some((c, desc)) => pushedLimit.map(n =>
          graft.engine.FilterPrune.capForTopN(m, fullSchema, finalKept, c, desc, n))
          .getOrElse((finalKept, None))
        case None => (pushedLimit.map(n =>
          graft.engine.FilterPrune.capForLimit(m, finalKept, n))
          .getOrElse(finalKept), None)
      }
    val dvByName = m.dvs.map(d => d.file -> d.b64).toMap
    if (onPlanned != null) onPlanned(finalKept)
    // within-file row-group predicates from the SAME conjuncts that prune
    // files (static pushed + runtime data filters). Stamped on the
    // PARTITIONS, not the reader factory: Spark materializes the factory
    // at plan time (its supportsColumnar probe), BEFORE runtime filters
    // arrive — partition planning is the hook that re-runs after
    // `filter()`, so DPP IN-sets reach the parquet reader. NEVER on a
    // row-level-operation scan: its CoW rewrite must copy every row of a
    // replaced file, matching or not, so dropping non-matching row groups
    // would silently delete them.
    val rowLevel = onPlanned != null ||
      required.fieldNames.contains(SnapshotSource.FileCol)
    // under the EXACT claim the pushed conjuncts never translate: every
    // planned file is FULLY accepted (all row groups match — zero pruning
    // value), and with Spark's Filter node gone the read schema may omit
    // the filter column, which a parquet row-group predicate would treat
    // as all-null and wrongly drop every group
    val rg =
      if (rowLevel) Array.empty[graft.engine.RowGroupFilters.RgF]
      else graft.engine.RowGroupFilters.translate(
        ((if (exactPushed) Array.empty[Filter] else pushed)
          ++ dataFilters ++ topNThreshold).toSeq, fullSchema,
        SnapshotSource.physicalNames(root))
    SnapshotFilePartition.planned(capped, dvByName, spark,
      clustered = clustered, rgFilters = rg,
      dvColumnar = SnapshotFilePartition.dvCopyable(required))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val phys = SnapshotSource.physicalNames(root)
    val confEntries = SnapshotSource.readerConfEntries(spark)
    SnapshotReaderFactory(required.json,
      required.fields.map(f => phys.getOrElse(f.name, f.name)), confEntries)
  }

  /** Exact post-pruning row count from the manifest's per-file counts
    * minus deletion-vector cardinalities — zero data I/O. Lets Catalyst
    * broadcast a filtered dimension read without sampling; degrades to
    * unknown when any surviving file predates the row-count index. */
  override def estimateStatistics(): Statistics = {
    // unknown for streaming scans (micro-batch input ≠ head snapshot) and
    // for tables with no commits yet (a stream may plan before first data)
    if (streamingUse ||
        (version.isEmpty && Snapshots.headVersion(spark, root) == 0)) {
      return new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }
    val (m, kept) = resolved
    val rowsByName = m.rows.map(r => r.file -> r.n).toMap
    val names = kept.map(f => new Path(f).getName)
    val exact =
      if (names.forall(rowsByName.contains)) {
        val nameSet = names.toSet
        val deleted = m.dvs.filter(d => nameSet.contains(d.file)).map(_.deleted).sum
        Some(names.map(rowsByName).sum - deleted)
      } else None
    val width = math.max(required.defaultSize, 1)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        exact.map(n => java.util.OptionalLong.of(n * width))
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        exact.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }
}

/** Offset = snapshot VERSION: "every commit ≤ version is consumed". */
private[streaming] case class SnapshotOffset(version: Long) extends Offset {
  override def json(): String = ManifestCodec.renderOffset(version)
}

private[streaming] class SnapshotMicroBatchStream(
    root: String,
    required: StructType,
    startingVersion: String,
    ignoreChanges: Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  private def spark = SparkSession.active

  /** Trigger.AvailableNow: the head version pinned at query start — the
    * paced catch-up (rate limits still honored trigger by trigger)
    * processes up to exactly this point and terminates, ignoring
    * anything committed after. None outside AvailableNow runs. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Snapshots.headVersion(spark, root))

  /** The head this trigger may admit up to (AvailableNow pins it). */
  private def admissionHead(): Long = {
    val h = Snapshots.headVersion(spark, root)
    availableNowCap.fold(h)(math.min(h, _))
  }

  override def initialOffset(): Offset = startingVersion match {
    case "earliest" => SnapshotOffset(0L)
    case "latest" => SnapshotOffset(Snapshots.headVersion(spark, root))
    case v => SnapshotOffset(v.toLong)
  }

  override def latestOffset(): Offset = SnapshotOffset(admissionHead())

  /** Rate control: `maxFilesPerTrigger` / `maxBytesPerTrigger` bound a
    * trigger's batch to as many whole VERSIONS as fit the budget (always
    * at least one, so the stream progresses); both set = both respected.
    * The backfill guard at scale — without it, starting `earliest` on a
    * million-file table plans the entire history as one micro-batch, and
    * file COUNTS alone mis-pace a backfill whose file sizes vary 100×
    * (bytes is what executor memory and trigger latency actually see). */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).toSeq ++
      maxBytesPerTrigger.map(b => ReadLimit.maxBytes(b))
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = admissionHead()
    val from = start.asInstanceOf[SnapshotOffset].version
    limit match {
      case c: CompositeReadLimit if head > from =>
        // both budgets must admit a version: take the tighter cut
        SnapshotOffset(c.getReadLimits.map(l =>
          latestOffset(start, l).asInstanceOf[SnapshotOffset].version).min)
      case mb: ReadMaxBytes if head > from =>
        // walk versions forward, accumulating each step's ADDED bytes from
        // the shard-recorded per-file sizes (round 16 — no RPC per file).
        // Round 17: the common append-only step costs one O(#shards)
        // commit-record read plus the NEW shards' bodies only (shards are
        // write-once, so a commit whose shard-ref set contains all of its
        // parent's added exactly the new shards' files) — the same delta
        // arithmetic as the ReadMaxFiles branch, instead of resolving and
        // set-differencing FULL manifests per version on a long catch-up.
        // Shard-replacing commits (compaction/merge/delete) fall back to
        // the full-manifest diff, lazily. A file whose shard predates the
        // size index counts as budget-exhausting (admitted alone with its
        // version, conservative), so old tables still make progress.
        var v = from
        var budget: Long = mb.maxBytes()
        var prevRefs: Set[String] =
          if (from == 0) Set.empty
          else Snapshots.manifestMeta(spark, root, from).shardRefs.map(_.name).toSet
        var prevFiles: Option[Set[String]] =
          if (from == 0) Some(Set.empty) else None
        var done = false
        while (!done && v < head) {
          val curRefs = Snapshots.manifestMeta(spark, root, v + 1).shardRefs
          val bytes: Long =
            if (prevRefs.subsetOf(curRefs.map(_.name).toSet)) {
              prevFiles = None // cached file set no longer describes v+1
              Snapshots.shardFileBytes(spark, root,
                curRefs.filterNot(r => prevRefs.contains(r.name)))
            } else {
              val pf = prevFiles.getOrElse(
                if (v == 0) Set.empty[String]
                else Snapshots.manifest(spark, root, v).files.toSet)
              val m1 = Snapshots.manifest(spark, root, v + 1)
              val added = m1.files.toSet -- pf
              prevFiles = Some(m1.files.toSet)
              Snapshots.saturatingBytes(0L,
                // toSeq FIRST: `added` is a Set, and a converted table may
                // carry duplicate basenames — each file's bytes must count
                added.toSeq.map(u => new Path(u).getName),
                m1.rows.iterator.map(r => r.file -> r.bytes).toMap)
            }
          if (bytes <= budget || v == from) {
            // always admit at least one version, else no progress
            budget = math.max(0L, budget - bytes)
            prevRefs = curRefs.map(_.name).toSet
            v += 1
          } else done = true
        }
        SnapshotOffset(v)
      case mf: ReadMaxFiles if head > from =>
        // walk versions forward, accumulating each step's ADDED file count,
        // until the budget is spent. Shard arithmetic keeps the common case
        // metadata-cheap: shards are write-once, so a commit whose shard-ref
        // set contains all of its parent's added exactly the NEW shards'
        // recorded file counts — one O(#shards) commit-record read per
        // version, no shard bodies. Only shard-replacing commits
        // (compaction/merge/delete) load full file lists, lazily.
        var v = from
        var budget: Long = mf.maxFiles().toLong
        def shardsOf(mm: Snapshots.ManifestMeta): Map[String, Long] =
          mm.shardRefs.map(r => r.name -> r.n).toMap
        var prevShards: Map[String, Long] =
          if (from == 0) Map.empty
          else shardsOf(Snapshots.manifestMeta(spark, root, from))
        var prevFiles: Option[Set[String]] =
          if (from == 0) Some(Set.empty) else None
        var done = false
        while (!done && v < head) {
          val curShards = shardsOf(Snapshots.manifestMeta(spark, root, v + 1))
          val addedCount: Long =
            if (prevShards.keySet.subsetOf(curShards.keySet)) {
              prevFiles = None // cached file set no longer describes v+1
              (curShards.keySet -- prevShards.keySet).iterator.map(curShards).sum
            } else {
              val pf = prevFiles.getOrElse(
                if (v == 0) Set.empty[String]
                else Snapshots.manifest(spark, root, v).files.toSet)
              val nf = Snapshots.manifest(spark, root, v + 1).files.toSet
              prevFiles = Some(nf)
              (nf -- pf).size.toLong
            }
          if (addedCount <= budget || v == from) {
            // always admit at least one version, else no progress
            budget -= addedCount
            prevShards = curShards
            v += 1
          } else done = true
        }
        SnapshotOffset(v)
      case _ => SnapshotOffset(head)
    }
  }

  override def deserializeOffset(json: String): Offset =
    SnapshotOffset(ManifestCodec.parseOffset(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fromV = start.asInstanceOf[SnapshotOffset].version
    val toV = end.asInstanceOf[SnapshotOffset].version
    if (toV <= fromV) return Array.empty
    val mTo = Snapshots.manifest(spark, root, toV)
    val mFrom = if (fromV == 0) None else Some(Snapshots.manifest(spark, root, fromV))
    val fromFiles = mFrom.map(_.files.toSet).getOrElse(Set.empty[String])
    // files NOT to emit: those whose rows all predate the span. Starts as
    // the span-base file set and grows across OptimizeTag commits — the
    // manifest layer PROVES such a commit's added files hold exactly the
    // live rows of its removed files, so a compaction of pre-span files is
    // row-invisible to an append-only tail (skip its outputs, emit
    // nothing), while a compaction of files appended WITHIN the span
    // produces outputs that ARE the new rows (emit them). A commit that
    // genuinely changed rows (untagged removal, DV growth on pre-span
    // rows, a compaction mixing pre-span and in-span inputs) still throws
    // without `ignoreChanges`: an append-only tail cannot represent it.
    val preSpan: Set[String] =
      if (ignoreChanges) fromFiles
      else walkSpanProvenance(fromV, toV, fromFiles, mTo)
    val added = mTo.files.filterNot(preSpan)
    // per-added-file vector as of toV (a delete landing in the same span
    // marks rows that never net-arrived — the reader skips them)
    val dvByName = mTo.dvs.map(d => d.file -> d.b64).toMap
    SnapshotFilePartition.planned(added, dvByName, spark,
      dvColumnar = SnapshotFilePartition.dvCopyable(required))
  }

  /** Span contains a commit the append-only tail cannot represent; the
    * message carries the `ignoreChanges` opt-through hint. */
  private def cannotRepresent(fromV: Long, toV: Long, what: String): Nothing =
    throw new SnapshotSource.SpanNotAppendOnly(
      s"snapshot stream at $root: commits ($fromV, $toV] $what — an " +
        "append-only tail cannot represent that; set " +
        ".option(\"ignoreChanges\", true) to emit rewritten files' rows " +
        "anyway (downstream must key-dedup)")

  /** Classify every commit in (fromV, toV] and return the set of head
    * files whose rows all predate the span (never emitted). Throws
    * [[SnapshotSource.SpanNotAppendOnly]] (`ignoreChanges` hint) on any
    * commit an append-only tail cannot represent. Falls back to the coarse
    * whole-span check when an interim manifest was vacuumed away
    * mid-stream — detected explicitly up-front, never inferred from a
    * caught failure (a genuine I/O error or bug must surface, not be
    * misreported as "vacuumed").
    *
    * Cost shape: shards are write-once under fresh UUID names, so a commit
    * whose shard-ref set contains all of its parent's provably removed no
    * file and changed no deletion vector (every parent shard carried BY
    * REFERENCE; a new shard only describes its own files). The common
    * pure-append span therefore costs one O(#shards) commit-record read
    * per version and ZERO shard I/O; full file lists load lazily, only
    * around commits that drop or replace a shard. */
  private def walkSpanProvenance(
      fromV: Long,
      toV: Long,
      fromFiles: Set[String],
      mTo: Snapshots.Manifest): Set[String] = {
    def cannot(what: String): Nothing = cannotRepresent(fromV, toV, what)
    // per-commit classification needs every interim manifest; toV's is
    // mTo (proven present), fromV's file list is already in fromFiles but
    // its DVs may still be read below, so check it too when > 0
    val vacuumed = (math.max(fromV, 1L) until toV)
      .exists(v => !Snapshots.manifestExists(spark, root, v))
    if (vacuumed) return coarseSpanCheck(fromV, toV, fromFiles, mTo)

    var preSpan = fromFiles
    // full (files, DVs) state of the previous commit, resolved lazily —
    // only commits that replace a shard force shard I/O
    var prevFull: Option[(Set[String], Map[String, String])] = None
    def fullOf(v: Long): (Set[String], Map[String, String]) =
      if (v == 0) (Set.empty, Map.empty)
      else {
        val m = Snapshots.manifest(spark, root, v)
        (m.files.toSet, m.dvs.map(d => d.file -> d.b64).toMap)
      }
    def shardsOf(mm: Snapshots.ManifestMeta): Set[String] = mm.shardRefs.map(_.name).toSet
    var prevShards: Set[String] =
      if (fromV == 0) Set.empty
      else shardsOf(Snapshots.manifestMeta(spark, root, fromV))
    var v = fromV
    while (v < toV) {
      v += 1
      val mm = Snapshots.manifestMeta(spark, root, v)
      val curShards = shardsOf(mm)
      if (prevShards.subsetOf(curShards)) {
        // every parent shard carried by reference: nothing removed, no DV
        // changed — preSpan unchanged. The cached full state no longer
        // describes v; drop it (recomputed on demand).
        prevFull = None
      } else {
        val (prevFiles, prevDvs) = prevFull.getOrElse(fullOf(v - 1))
        val cur = Snapshots.manifest(spark, root, v)
        val curFiles = cur.files.toSet
        val curDvs = cur.dvs.map(d => d.file -> d.b64).toMap
        val removed = prevFiles -- curFiles
        val addedC = curFiles -- prevFiles
        val optimize = mm.tag.startsWith(Snapshots.OptimizeTag)
        if (optimize) {
          val preIn = removed intersect preSpan
          if (preIn.isEmpty) {
            // pure in-span compaction: outputs carry only new rows — emit
          } else if (preIn == removed) {
            preSpan = preSpan -- removed ++ addedC // row-preserving carry
          } else cannot(
            "compacted pre-span files together with in-span appends " +
              "(the rewrite outputs mix old and new rows)")
        } else {
          val preRemoved = removed intersect preSpan
          // DROP-ONLY commit (round 19): files removed, NONE added — the
          // full-kill/retention delete shape (`DELETE WHERE` classifying
          // every touched file as a metadata drop). Nothing was rewritten,
          // so there exist no out-of-contract rows to emit or replay; the
          // tail represents the delete BY OMISSION (Delta's ignoreDeletes,
          // default-on here) and plans an empty delta instead of killing
          // every follower on each retention cycle. A commit that also
          // ADDS files while removing pre-span ones is a rewrite and still
          // throws; DV growth on surviving pre-span files is checked
          // separately below and still throws.
          if (preRemoved.nonEmpty && addedC.nonEmpty) cannot(
            s"rewrote/removed ${preRemoved.size} pre-span file(s) " +
              "(merge/delete)")
          preSpan = preSpan -- removed
        }
        // vector growth on a PRE-SPAN file is a row delete the tail cannot
        // represent; a vector on an in-span file is fine — the reader
        // applies the toV vector, so those rows are simply never emitted
        val preNames = preSpan.map(u => new Path(u).getName)
        val grew = curDvs.exists { case (f, b) =>
          preNames.contains(f) && !prevDvs.get(f).contains(b) }
        if (grew && !optimize) cannot(
          "vector-deleted rows from pre-span file(s)")
        prevFull = Some((curFiles, curDvs))
      }
      prevShards = curShards
    }
    preSpan
  }

  /** Whole-span check when interim manifests were vacuumed: no per-commit
    * classification is possible, so no compaction exemptions — any net
    * file removal or carried-file DV change throws. */
  private def coarseSpanCheck(
      fromV: Long,
      toV: Long,
      fromFiles: Set[String],
      mTo: Snapshots.Manifest): Set[String] = {
    val removed = fromFiles -- mTo.files.toSet
    val netAdded = mTo.files.toSet -- fromFiles
    // net drop-only span (round 19): every file at toV was already present
    // at fromV and some were removed — whatever happened in between, every
    // row that changed was ultimately deleted, so omission represents it
    // (same contract as the per-commit drop-only case). Removal WITH net
    // adds stays unprovable here and throws.
    if (removed.nonEmpty && netAdded.nonEmpty) cannotRepresent(fromV, toV,
      s"rewrote/removed ${removed.size} file(s) (merge/delete/" +
        "compaction; interim manifests vacuumed, cannot prove row " +
        "preservation)")
    val fromDvByName =
      (if (fromV == 0) Map.empty[String, String]
       else Snapshots.manifest(spark, root, fromV).dvs
         .map(d => d.file -> d.b64).toMap)
    val carriedNames = fromFiles.map(u => new Path(u).getName)
    val changed = mTo.dvs.filter(d => carriedNames.contains(d.file) &&
      !fromDvByName.get(d.file).contains(d.b64))
    if (changed.nonEmpty) cannotRepresent(fromV, toV,
      s"vector-deleted rows from ${changed.size} carried file(s)")
    fromFiles
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // a TYPE drift between the stream's planned schema and the table's
    // head (ALTER COLUMN TYPE widening mid-stream) cannot be read
    // correctly — the wide generation's files would decode into the
    // stream's narrow vectors (a cryptic task failure at best, silent
    // overflow at worst). Fail at planning with the operational answer:
    // a restart re-resolves the schema and reads BOTH generations wide.
    val head = SnapshotSource.surfacedSchema(root)
    val drifted = required.fields.flatMap { f =>
      head.fields.find(_.name == f.name)
        .filter(_.dataType != f.dataType)
        .map(h => s"${f.name}: ${f.dataType.simpleString} -> ${h.dataType.simpleString}")
    }
    if (drifted.nonEmpty) throw new IllegalStateException(
      s"the schema of $root changed beneath this stream " +
        s"(${drifted.mkString(", ")}) — restart the streaming query from " +
        "its checkpoint to pick up the widened schema (it will resume at " +
        "the failed batch and read every generation under the new types)")
    // one head/manifest read for the whole batch, not one per column —
    // and the Hadoop conf ships ONCE in the factory rather than copied
    // into every per-file partition (a 10k-file backfill would otherwise
    // serialize 10k conf copies from the driver)
    val phys = SnapshotSource.physicalNames(root)
    val confEntries = SnapshotSource.readerConfEntries(spark)
    SnapshotReaderFactory(required.json,
      required.fields.map(f => phys.getOrElse(f.name, f.name)), confEntries)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One scan task: a byte range of one file. `length` -1 = whole file (the
  * reader sizes it); a sub-range reads the row groups whose MIDPOINT falls
  * inside it (parquet split semantics — every row lands in exactly one
  * range). */
private[streaming] case class SnapshotFilePartition(
    uri: String,
    dvB64: Option[String],
    columnar: Boolean,
    start: Long = 0L,
    length: Long = -1L,
    key: Seq[Int] = Nil,
    /** Row-group predicate conjuncts for THIS partition's read
      * ([[graft.engine.RowGroupFilters]]). Stamped at partition PLANNING —
      * which runs again AFTER runtime filters arrive — never on the reader
      * factory, which Spark builds at plan time (its `supportsColumnar`
      * probe) before any DPP set exists. DV'd files filter too: their
      * readers recover exact file-global ordinals via the parquet
      * row-index column. */
    rg: Array[graft.engine.RowGroupFilters.RgF] = Array.empty)
  extends InputPartition with HasPartitionKey {

  /** The file's clustering key — (bucket id) for a single-column spec,
    * the grid-cell tuple for a composite one — as the
    * storage-partitioned-join grouping key. Read only when the scan
    * reported KeyGroupedPartitioning, which it does only after every
    * planned file recovered its key — so an empty key never reaches
    * Spark. */
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      key.map(i => i: Any).toArray)
}

private[streaming] object SnapshotFilePartition {
  /** Plan partitions for the files of one batch.
    *
    * Columnar is stamped BATCH-UNIFORM: Spark refuses a scan that mixes
    * row and columnar partitions ("Cannot mix row-based and columnar
    * input partitions"), so one DV'd file flips the whole batch to the
    * row path — a planning-time decision, never a per-partition one.
    *
    * Splitting: when the batch holds FEWER files than would keep the
    * cluster busy, DV-free files larger than
    * `spark.sql.files.maxPartitionBytes` split into byte ranges — the
    * native reader's parallelism contract, so a compacted (one-file)
    * table still scans with full parallelism instead of one task. The
    * size lookups are bounded by the few-files guard (no per-file RPC
    * storm on a million-file table, where one-task-per-file is already
    * parallel). DV'd files split too (round 16): each range's reader
    * requests the parquet row-index column, whose per-row-group offset
    * parquet-mr computes from the FULL footer block list — file-global
    * ordinals under any split, so the same deletion vector applies to
    * every range without shift. A heavily-deleted large file is no
    * longer a single-task straggler. */
  def planned(
      files: Seq[String],
      dvByName: Map[String, String],
      spark: SparkSession,
      clustered: Option[Snapshots.Clustering] = None,
      rgFilters: Array[graft.engine.RowGroupFilters.RgF] = Array.empty,
      dvColumnar: Boolean = false): Array[InputPartition] = {
    val withDv = files.sorted.map(uri => uri -> dvByName.get(new Path(uri).getName))
    // columnar whenever possible (round 16): DV'd files serve FILTERED
    // columnar batches when the schema is flat-copyable (`dvColumnar`),
    // so one deletion vector on a million-file table no longer drops
    // every DV-free neighbor out of whole-stage codegen
    val allFree = withDv.forall(_._2.isEmpty) || dvColumnar
    // under a reported KeyGroupedPartitioning every partition carries its
    // file's key — bucket id or grid-cell tuple (validated recoverable by
    // the scan); byte-ranges of one file share its key — Spark's partition
    // grouping reassembles same-key splits into one join task
    def bucketOf(uri: String): Seq[Int] = clustered.toSeq.flatMap { c =>
      val name = new Path(uri).getName
      if (c.cols.size == 1) Snapshots.bucketOfFile(name).toSeq
      else Snapshots.gridOfFile(name, c.cols.size).getOrElse(Nil)
    }
    val fewFiles = withDv.size < spark.sparkContext.defaultParallelism * 4
    if (!fewFiles)
      return withDv.map { case (uri, dv) =>
        SnapshotFilePartition(uri, dv, columnar = allFree,
          key = bucketOf(uri), rg = rgFilters): InputPartition
      }.toArray
    val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    lazy val fs = new Path(withDv.head._1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withDv.flatMap { case (uri, dv) =>
      val len = fs.getFileStatus(new Path(uri)).getLen
      if (len <= maxBytes)
        Seq(SnapshotFilePartition(uri, dv, columnar = allFree,
          key = bucketOf(uri), rg = rgFilters))
      else
        (0L until len by maxBytes).map(off =>
          SnapshotFilePartition(uri, dv, columnar = allFree,
            start = off, length = math.min(maxBytes, len - off),
            key = bucketOf(uri), rg = rgFilters))
    }.map(p => p: InputPartition).toArray
  }

  /** Whether a DV'd file can be served COLUMNAR under `schema`: every
    * column must copy cleanly into a writable vector when a batch needs
    * survivor filtering (flat types only — nested arrays/maps/structs
    * fall back to the batch-uniform row path). The synthesized `_file`
    * column is a per-batch constant, always fine. */
  def dvCopyable(schema: StructType): Boolean = schema.fields.forall(f =>
    f.name == SnapshotSource.FileCol || (f.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | DateType |
           LongType | TimestampType | TimestampNTZType | FloatType |
           DoubleType | StringType | BinaryType => true
      case _: DecimalType => true
      case _ => false
    }))
}

/** Executor-side decode through Spark's OWN vectorized parquet reader
  * (the one behind `spark.read.parquet`): requested columns decode
  * straight into column vectors with all of Spark's type handling —
  * INT96 and INT64 timestamps in any unit, NTZ, decimals, nested
  * lists/structs — instead of the 10-50× slower record-assembly path.
  *
  * A DV-free batch serves whole [[ColumnarBatch]]es
  * (`supportColumnarReads`), so a snapshot scan enters whole-stage
  * codegen exactly like a native parquet scan. A file WITH a deletion
  * vector needs per-row position filtering — OSS `ColumnarBatch` has no
  * selection vector — so a DV'd file serves FILTERED columnar batches
  * ([[SnapshotDvBatchReader]]: zero-copy when the batch's ordinal range
  * holds no deletes, survivor copy-out otherwise) when every column is
  * flat-copyable, and falls back to row-wise iteration of the same
  * vectorized batches for nested schemas (the columnar/row choice is
  * stamped batch-uniform at planning time in
  * [[SnapshotFilePartition.planned]]; Spark refuses mixed scans).
  * Correctness never depends on which path ran. */
private[streaming] case class SnapshotReaderFactory(
    requiredJson: String,
    physNames: Array[String],
    confEntries: Array[(String, String)])
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[SnapshotFilePartition].columnar

  private def required: StructType =
    DataType.fromJson(requiredJson).asInstanceOf[StructType]

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotFilePartition]
    new SnapshotRowReader(p, required, physNames, confEntries)
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[SnapshotFilePartition]
    if (p.dvB64.isEmpty) new SnapshotBatchReader(p, required, physNames, confEntries)
    else new SnapshotDvBatchReader(p, required, physNames, confEntries)
  }
}

private[streaming] object SnapshotVectorized {

  /** Hadoop conf key Spark's parquet ReadSupport takes the Catalyst
    * requested schema from (`ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA`,
    * private[parquet] but string-stable since Spark 1.x). */
  private val RequestedSchemaKey =
    "org.apache.spark.sql.parquet.row.requested_schema"

  /** Open a [[VectorizedParquetRecordReader]] over the whole file with the
    * required schema renamed to PHYSICAL column names (column mapping).
    * Requested columns absent from the file (pre-evolution) surface as
    * null vectors — the same contract as Spark's schema-evolution read.
    * Rebase modes are CORRECTED: every snapshot file is written by this
    * engine through Spark's writer, never by ancient Hive. */
  def open(
      uri: String,
      required: StructType,
      physNames: Array[String],
      confEntries: Array[(String, String)],
      start: Long = 0L,
      length: Long = -1L,
      rgFilters: Array[graft.engine.RowGroupFilters.RgF] = Array.empty)
      : VectorizedParquetRecordReader = {
    val conf = new Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    // row-group/page/bloom predicate pushdown (the within-file half of
    // filter pruning — [[graft.engine.RowGroupFilters]]): re-validate each
    // shipped conjunct against THIS file's footer (column present, physical
    // type matches — pre-evolution and pre-widening files differ), then hand
    // the surviving AND to the reader's ParquetFileReader via the standard
    // conf key. One extra footer read per filtered file; the row groups it
    // skips at 128 MB each repay it instantly.
    if (rgFilters.nonEmpty) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(uri), conf)
      val footer = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
      graft.engine.RowGroupFilters.build(rgFilters, footer).foreach { pred =>
        org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, pred)
      }
    }
    val physSchema = StructType(required.fields.zipWithIndex.map {
      case (f, i) => f.copy(name = physNames(i)) })
    conf.set(RequestedSchemaKey, physSchema.json)
    // what ParquetFileFormat sets before handing splits to this reader
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    // this reader requires nested vectorization for array/struct columns;
    // never inherit a session that turned it off
    conf.setBoolean("spark.sql.parquet.enableNestedColumnVectorizedReader", true)
    // keys the schema converter reads with a RAW .toBoolean (no default):
    // ParquetFileFormat force-sets them from the session; a session that
    // set one explicitly came through in confEntries and wins here
    def orDefault(k: String, v: String): Unit =
      if (conf.get(k) == null) conf.set(k, v)
    orDefault("spark.sql.parquet.binaryAsString", "false")
    orDefault("spark.sql.parquet.int96AsTimestamp", "true")
    orDefault("spark.sql.caseSensitive", "false")
    orDefault("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    orDefault("spark.sql.legacy.parquet.nanosAsLong", "false")
    orDefault("spark.sql.parquet.fieldId.read.enabled", "false")
    orDefault("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    val capacity = conf.getInt("spark.sql.parquet.columnarReaderBatchSize", 4096)
    // convertTz null: files are parquet-mr (Spark-written), no impala shift
    val vr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, capacity)
    val path = new Path(uri)
    val len =
      if (length >= 0) length
      else path.getFileSystem(conf).getFileStatus(path).getLen - start
    // mapred.FileSplit (extends the mapreduce one): Spark's reader base
    // casts the split to the legacy class internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      path, start, len, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    try {
      vr.initialize(split, attempt)
      vr.initBatch(new StructType(), InternalRow.empty)
      vr
    } catch { case e: Throwable => vr.close(); throw e }
  }

  def decodeDv(b64: String): org.roaringbitmap.longlong.Roaring64Bitmap = {
    val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
    bm.deserialize(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64))))
    bm
  }
}

/** ONE definition of the per-reader request shape, shared by all three
  * readers so the `_file`-last invariant, the row-index column name, and
  * the ordinal-exactness rule can never desynchronize between paths:
  *  - `_file` is synthesized, never parquet-read: stripped from the
  *    requested schema, appended as a constant vector per served batch;
  *  - DV skipping needs EXACT file-global ordinals whenever the reader
  *    can skip or start mid-file (row-group/page filters, or a byte-range
  *    split whose first row is not ordinal 0): request Spark's parquet
  *    row-index temp column (`_tmp_metadata_row_index` — string-stable;
  *    the vectorized reader fills it from the row group's file-global
  *    rowIndexOffset) and strip it before emitting. A whole-file
  *    unfiltered read keeps the cheaper sequential counter; a DV-free
  *    partition never needs ordinals at all. */
private[streaming] final class ReaderShape(
    partition: SnapshotFilePartition,
    required: StructType,
    physNames: Array[String]) {
  val fileIdx: Int = required.fieldNames.indexOf(SnapshotSource.FileCol)
  val dataRequired: StructType =
    if (fileIdx < 0) required
    else StructType(required.fields.filterNot(_.name == SnapshotSource.FileCol))
  val dataPhys: Array[String] =
    if (fileIdx < 0) physNames
    else required.fields.zip(physNames)
      .filterNot(_._1.name == SnapshotSource.FileCol).map(_._2)
  if (fileIdx >= 0) require(fileIdx == dataRequired.length,
    s"_file must be the scan's last column, got position $fileIdx")
  val baseName: org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      new Path(partition.uri).getName)
  val needRowIdx: Boolean = partition.dvB64.isDefined &&
    (partition.rg.nonEmpty || partition.start > 0 || partition.length >= 0)
  private val RowIdxCol = "_tmp_metadata_row_index"
  val readRequired: StructType =
    if (!needRowIdx) dataRequired
    else StructType(dataRequired.fields :+
      StructField(RowIdxCol, LongType, nullable = true))
  val readPhys: Array[String] =
    if (!needRowIdx) dataPhys else dataPhys :+ RowIdxCol
}

/** Columnar fast path: whole batches handed to Spark (DV-free files). */
private[streaming] class SnapshotBatchReader(
    partition: SnapshotFilePartition,
    required: StructType,
    physNames: Array[String],
    confEntries: Array[(String, String)])
  extends PartitionReader[ColumnarBatch] {

  private val shape = new ReaderShape(partition, required, physNames)

  private val vr = SnapshotVectorized.open(
    partition.uri, shape.dataRequired, shape.dataPhys, confEntries,
    partition.start, partition.length, partition.rg)
  vr.enableReturningBatches()

  override def next(): Boolean = vr.nextKeyValue()
  override def get(): ColumnarBatch = {
    val b = vr.getCurrentValue.asInstanceOf[ColumnarBatch]
    if (shape.fileIdx < 0) return b
    val cv = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
      b.numRows, StringType)
    cv.setUtf8String(shape.baseName)
    val cols = Array.tabulate[org.apache.spark.sql.vectorized.ColumnVector](
      b.numCols + 1)(i => if (i < b.numCols) b.column(i) else cv)
    new ColumnarBatch(cols, b.numRows)
  }
  override def close(): Unit = vr.close()
}

/** Columnar path for DV'd files (round 16): the SAME vectorized decode,
  * served as FILTERED columnar batches — so one deletion vector no longer
  * drops a whole scan (including every DV-free neighbor file) out of
  * whole-stage codegen. Two regimes per batch:
  *  - no deleted ordinal falls inside the batch's range (the common case
  *    for a lightly-deleted file — two bitmap ranks decide): serve the
  *    decoded batch ZERO-COPY;
  *  - otherwise copy the survivors into reused writable vectors (flat
  *    types only — [[SnapshotFilePartition.dvCopyable]] gates planning,
  *    nested schemas keep the row path).
  * Ordinals are file-global: the parquet row-index column whenever the
  * read can skip or start mid-file, else a sequential counter — the same
  * contract as [[SnapshotRowReader]]. */
private[streaming] class SnapshotDvBatchReader(
    partition: SnapshotFilePartition,
    required: StructType,
    physNames: Array[String],
    confEntries: Array[(String, String)])
  extends PartitionReader[ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.ColumnVector

  private val shape = new ReaderShape(partition, required, physNames)
  import shape.{dataRequired, needRowIdx}

  private val vr = SnapshotVectorized.open(
    partition.uri, shape.readRequired, shape.readPhys, confEntries,
    partition.start, partition.length, partition.rg)
  vr.enableReturningBatches()
  private val dv = SnapshotVectorized.decodeDv(partition.dvB64.get)
  private var base = 0L // sequential file ordinal when !needRowIdx
  private var current: ColumnarBatch = null

  // survivor copy-out vectors and index scratch, reused across batches
  private var out: Array[WritableColumnVector] = null
  private var selIdx: Array[Int] = new Array[Int](0)

  private def withFile(cols: Array[ColumnVector], n: Int): ColumnarBatch = {
    if (shape.fileIdx < 0) return new ColumnarBatch(cols, n)
    val cv = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
      n, StringType)
    cv.setUtf8String(shape.baseName)
    new ColumnarBatch(cols :+ (cv: ColumnVector), n)
  }

  override def next(): Boolean = {
    if (!vr.nextKeyValue()) return false
    val b = vr.getCurrentValue.asInstanceOf[ColumnarBatch]
    val n = b.numRows
    val base0 = base // this batch's first sequential ordinal
    def ordOf(i: Int): Long =
      if (needRowIdx) b.column(dataRequired.length).getLong(i) else base0 + i
    val (first, last) = if (n == 0) (0L, -1L) else (ordOf(0), ordOf(n - 1))
    if (!needRowIdx) base += n
    // two ranks answer "any deleted ordinal in [first, last]?" — ordinals
    // are non-negative, so rank(first-1) is safe except at 0
    val deletedInRange =
      if (n == 0) 0L
      else dv.rankLong(last) - (if (first == 0L) 0L else dv.rankLong(first - 1L))
    val dataCols = Array.tabulate[ColumnVector](dataRequired.length)(b.column)
    current =
      if (deletedInRange == 0L) withFile(dataCols, n) // zero-copy
      else {
        if (selIdx.length < n) selIdx = new Array[Int](n)
        var m = 0
        var i = 0
        while (i < n) {
          if (!dv.contains(ordOf(i))) { selIdx(m) = i; m += 1 }
          i += 1
        }
        if (out == null)
          out = dataRequired.fields.map(f =>
            new OnHeapColumnVector(math.max(n, 4096), f.dataType): WritableColumnVector)
        var j = 0
        while (j < out.length) {
          out(j).reset()
          out(j).reserve(n)
          copyCol(dataCols(j), out(j), dataRequired.fields(j).dataType, m)
          j += 1
        }
        withFile(out.map(v => v: ColumnVector), m)
      }
    true
  }

  /** Copy `m` survivor rows (indices in `selIdx`) of one column. Types
    * outside this dispatch never reach the columnar DV path — planning
    * gates on [[SnapshotFilePartition.dvCopyable]]. */
  private def copyCol(src: ColumnVector, dst: WritableColumnVector,
      dt: DataType, m: Int): Unit = {
    var k = 0
    dt match {
      case BooleanType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putBoolean(k, src.getBoolean(i)); k += 1 }
      case ByteType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putByte(k, src.getByte(i)); k += 1 }
      case ShortType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putShort(k, src.getShort(i)); k += 1 }
      case IntegerType | DateType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putInt(k, src.getInt(i)); k += 1 }
      case LongType | TimestampType | TimestampNTZType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putLong(k, src.getLong(i)); k += 1 }
      case FloatType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putFloat(k, src.getFloat(i)); k += 1 }
      case DoubleType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putDouble(k, src.getDouble(i)); k += 1 }
      case StringType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k)
        else { val s = src.getUTF8String(i); dst.putByteArray(k, s.getBytes) }; k += 1 }
      case BinaryType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k) else dst.putByteArray(k, src.getBinary(i)); k += 1 }
      case d: DecimalType => while (k < m) { val i = selIdx(k)
        if (src.isNullAt(i)) dst.putNull(k)
        else dst.putDecimal(k, src.getDecimal(i, d.precision, d.scale), d.precision); k += 1 }
      case other => throw new IllegalStateException(
        s"non-copyable type $other reached the columnar DV path")
    }
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = {
    vr.close()
    if (out != null) out.foreach(_.close())
  }
}

/** Row path for DV'd files: the SAME vectorized decode, iterated row-wise
  * with a running file ordinal so deleted positions are skipped. The
  * returned row is Spark's reused ColumnarBatchRow — standard file-source
  * contract (consumers read before advancing). */
private[streaming] class SnapshotRowReader(
    partition: SnapshotFilePartition,
    required: StructType,
    physNames: Array[String],
    confEntries: Array[(String, String)])
  extends PartitionReader[InternalRow] {

  private val shape = new ReaderShape(partition, required, physNames)
  import shape.{dataRequired, needRowIdx}
  // `_file` appended via a reused JoinedRow — zero per-row allocation
  private val joined =
    if (shape.fileIdx < 0) null
    else new org.apache.spark.sql.catalyst.expressions.JoinedRow(
      null,
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](shape.baseName)))

  private val vr = SnapshotVectorized.open(
    partition.uri, shape.readRequired, shape.readPhys, confEntries,
    partition.start, partition.length, partition.rg)
  private val dv = partition.dvB64.map(SnapshotVectorized.decodeDv)
  private var rowIdx: Long = -1L
  private val stripIdx =
    if (!needRowIdx) null
    else org.apache.spark.sql.catalyst.ProjectingInternalRow(
      dataRequired, 0 until dataRequired.length)

  private def ordinal(): Long =
    if (needRowIdx)
      vr.getCurrentValue.asInstanceOf[InternalRow].getLong(dataRequired.length)
    else rowIdx

  override def next(): Boolean = {
    var has = vr.nextKeyValue()
    rowIdx += 1
    while (has && dv.exists(_.contains(ordinal()))) {
      has = vr.nextKeyValue()
      rowIdx += 1
    }
    has
  }

  override def get(): InternalRow = {
    val raw = vr.getCurrentValue.asInstanceOf[InternalRow]
    val r =
      if (stripIdx == null) raw
      else { stripIdx.project(raw); stripIdx }
    if (joined == null) r else joined.withLeft(r)
  }
  override def close(): Unit = vr.close()
}
