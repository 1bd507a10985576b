package graft.lakehouse

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, TableScan}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face of the lakehouse:
  *
  * {{{
  *   spark.read.format("graft-lakehouse").load(root)                     // current snapshot
  *   spark.read.format("graft-lakehouse")
  *     .option("snapshotId", 3).load(root)                               // time travel
  * }}}
  *
  * A plain `df.filter($"id" === 5)` (or the same predicate in SQL) now
  * reaches [[LakehouseTable.pruneFiles]] automatically: Catalyst pushes
  * its translated `sources.Filter`s through
  * [[SupportsPushDownFilters]], the builder maps them onto
  * [[ScanPredicate]]s for file skipping (manifest stats + bloom
  * sidecars + partition paths), and the relation re-applies the EXACT
  * original filters on the scanned rows — strict `>` stays strict even
  * though pruning bounds are inclusive, so skipping can never change
  * an answer. [[SupportsPushDownRequiredColumns]] prunes the projected
  * columns into the underlying parquet scan.
  *
  * The scan itself is [[LakehouseBatchScan]], a native DSv2 `Batch`:
  * the pruned file list feeds Spark's own vectorized parquet readers,
  * merge-on-read tombstones mask inside those readers, and the same
  * scan serves the micro-batch stream and every engine-internal read
  * ([[LakehouseTable.scanFiles]]) — one read path for one semantics.
  *
  * Reference scope: `lakehouse/time_travel.py:25-31` — predicate-driven
  * snapshot scans as the user-facing query surface.
  */
final class LakehouseSourceProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graft-lakehouse"

  // `writeStream.format("graft-lakehouse")` plans through the DSv2
  // STREAMING_WRITE face for every root (snapshot-less included — the
  // write seeds the table from the query schema); the V1 Sink and its
  // duplicate keyed dispatch are retired as of round 16.

  /** `df.write.format("graft-lakehouse").mode(...).save(root)` — the
    * batch write face, dispatched by [[LakehouseSource.writePath]].
    */
  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val root = LakehouseSource.rootOf(parameters)
    val t = LakehouseSource.writeTableOf(sqlContext.sparkSession, root, parameters)
    LakehouseSource.writePath(t, data, parameters, mode, overwriteBy = None)
    val ctx = sqlContext
    // pin the relation to the snapshot THIS write produced (or found,
    // under Ignore): scanning it later must not surface a concurrent
    // writer's rows — the same load-time pinning discipline as the
    // read face. A branch write pins the BRANCH head it landed.
    val writtenId = LakehouseSource.branchWriteOf(parameters).map(b => t.branchHead(b).snapshotId)
      .orElse(t.currentSnapshot().map(_.snapshotId))
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
      override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
        val tt = new LakehouseTable(ctx.sparkSession, root)
        writtenId.map(tt.scanAtSnapshot(_)).getOrElse(tt.read()).rdd
      }
    }
  }

  /** Empty schema (not an exception) when the root has no snapshots:
    * the streaming WRITER resolves the provider through this same path,
    * and its DSv2 write seeds a snapshot-less target from the query
    * schema on the first epoch. Reads of a missing table still fail
    * loudly — at scan time instead of here.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    val t = new LakehouseTable(SparkSession.active, LakehouseSource.rootOf(opts))
    LakehouseSource.snapshotIdOf(opts).map(t.snapshotOrThrow)
      .orElse(LakehouseSource.tagOf(opts).map(t.snapshotForTag))
      .orElse(LakehouseSource.branchOf(opts).map(t.branchHead))
      .orElse(LakehouseSource.asOfTimestampOf(opts).map(t.snapshotAsOf))
      .orElse(t.currentSnapshot()) match {
      case Some(snap) => DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      case None => new StructType()
    }
  }

  /** The snapshot id is PINNED here, at table resolution: a loaded
    * DataFrame reads one snapshot for its whole life — across actions
    * (df.count() then df.collect()), and across multiple scans inside
    * one query (a self-join) — even while writers commit concurrently.
    * Without the pin, buildScan would re-resolve the head per action
    * and a single query could silently mix two snapshots.
    */
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = properties.asScala.toMap
    val pinned = LakehouseSource.snapshotIdOf(opts) match {
      case Some(_) => opts // explicit time travel is already a pin
      case None =>
        val t = new LakehouseTable(SparkSession.active, LakehouseSource.rootOf(opts))
        LakehouseSource.tagOf(opts).map(t.snapshotForTag)
          .orElse(LakehouseSource.branchOf(opts).map(t.branchHead))
          .orElse(LakehouseSource.asOfTimestampOf(opts).map(t.snapshotAsOf))
          .orElse(t.currentSnapshot()) match {
          case Some(s) => opts + ("snapshotId" -> s.snapshotId.toString)
          case None => opts // snapshot-less sink target: nothing to pin
        }
    }
    new LakehouseV2Table(schema, pinned)
  }
}

private[lakehouse] object LakehouseSource {
  def rootOf(options: Map[String, String]): String =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .orElse(options.collectFirst {
        case (k, v) if k.equalsIgnoreCase("table") => resolveTableName(v) })
      .getOrElse(throw new IllegalArgumentException(
        "graft-lakehouse requires a table root: .load(<root>), .option(\"path\", " +
          "<root>), or .option(\"table\", \"<catalog>.<ns>.<name>\")"))

  /** Resolve a catalog-qualified table name (`cat.db.t`, or `db.t`
    * under the session's CURRENT catalog when it is a graft one) to
    * its filesystem root — the streaming faces' by-name route: batch
    * SQL got first-class names from the catalog (round 9), and a
    * replication pipeline should be expressible without a path string
    * on either end.
    */
  def resolveTableName(name: String): String = {
    val spark = SparkSession.active
    val cm = spark.sessionState.catalogManager
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
    require(parts.size >= 2,
      s"table name '$name' must be at least '<namespace>.<table>'")
    val (cat, ns, tbl) =
      try {
        val c = cm.catalog(parts.head)
        require(parts.size >= 2, s"'$name' names a catalog, not a table")
        (c, parts.tail.init, parts.last)
      } catch {
        case _: org.apache.spark.sql.connector.catalog.CatalogNotFoundException =>
          (cm.currentCatalog, parts.init, parts.last)
      }
    cat match {
      case lc: LakehouseCatalog =>
        lc.tableRoot(org.apache.spark.sql.connector.catalog.Identifier.of(
          ns.toArray, tbl))
      case other => throw new IllegalArgumentException(
        s"table '$name' resolves to catalog '${other.name()}', which is not a " +
          "graft-lakehouse catalog — the streaming by-name faces serve graft tables only")
    }
  }

  /** Comma-separated column-list option (keys, partitionBy) — commas
    * inside parentheses don't split, so `bucket(8,k)` stays one entry.
    */
  def colListOf(options: Map[String, String], name: String): Seq[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
      .map(splitTopLevel).getOrElse(Nil)

  /** The table's declared `bucket(N, col)` layout, from the partition
    * spec carried in the scan/write options (catalog metadata).
    */
  def bucketSpecOf(options: Map[String, String]): Option[(Int, String)] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("partitionBy") => v }
      .toSeq.flatMap(splitTopLevel).collectFirst {
        case LakehouseTable.BucketSpecRe(n, c) => (n.toInt, c)
      }

  /** Split on commas at parenthesis depth 0 only. */
  def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    out += cur.result().trim
    out.result().filter(_.nonEmpty)
  }

  /** Case-insensitive boolean option (mergeOnRead, optimizeWrite). */
  def boolOpt(options: Map[String, String], name: String): Boolean =
    options.exists { case (k, v) =>
      k.equalsIgnoreCase(name) && v.trim.equalsIgnoreCase("true") }

  /** The table handle a path-face write lands through (its
    * optimize-write options applied).
    */
  def writeTableOf(spark: SparkSession, root: String,
      options: Map[String, String]): LakehouseTable =
    new LakehouseTable(spark, root,
      optimizeWrite = boolOpt(options, "optimizeWrite"),
      optimizeWriteTargetBytes = longOptOf(options, "optimizeWriteTargetBytes"))

  /** `.option("branch", "wap")` on a write — the write-audit-publish
    * target branch.
    */
  def branchWriteOf(options: Map[String, String]): Option[String] =
    options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("branch") => v.trim }.filter(_.nonEmpty)

  /** A path-face write's `keys` and `mergeOnRead` options; merge-on-read
    * needs keys (tombstones are keyed).
    */
  def keyedOptsOf(options: Map[String, String]): (Seq[String], Boolean) = {
    val keys = colListOf(options, "keys")
    val mor = boolOpt(options, "mergeOnRead")
    require(!mor || keys.nonEmpty, "mergeOnRead needs `keys` (tombstones are keyed)")
    (keys, mor)
  }

  /** The PATH face's batch write, shared by `df.write...save(root)`
    * and the V1Write insert: (save mode, `keys`, `mergeOnRead`,
    * `partitionBy`, filter overwrite, `branch`) map onto one table call.
    * Without a branch, Append appends — or, when `keys` names merge
    * columns, UPSERTS, and CDC-applies a batch carrying a `_change`
    * column — Overwrite replaces the content, a filter overwrite
    * replaces the matching rows, and ErrorIfExists/Ignore follow their
    * SaveMode contracts against table existence. A `branch` write
    * (write-audit-publish: invisible to main until publishBranch) takes
    * the append and keyed shapes only, with the same `_change` rule;
    * replacing a branch is re-forking, which is what forkBranch is for.
    */
  def writePath(t: LakehouseTable, data: DataFrame, options: Map[String, String],
      mode: SaveMode, overwriteBy: Option[Seq[Filter]]): Unit = {
    val (keys, mor) = keyedOptsOf(options)
    val partitionBy = colListOf(options, "partitionBy")
    // `_change` is a keyed write's op channel on both lines
    val cdc = keys.nonEmpty && data.columns.contains("_change")
    branchWriteOf(options) match {
      case Some(b) =>
        require(mode == SaveMode.Append && overwriteBy.isEmpty,
          s"branch writes are append/upsert-shaped (write-audit-publish), got " +
            s"${overwriteBy.fold(mode.toString)(_ => "a filter overwrite")} — to " +
            "replace a branch, drop and re-fork it")
        if (cdc) t.applyChangesToBranch(data, keys, b, mergeOnRead = mor)
        else if (keys.nonEmpty) t.upsertToBranch(data, keys, b, mergeOnRead = mor)
        else t.appendToBranch(data, b, partitionBy)
      case None => mode match {
        case SaveMode.ErrorIfExists if t.currentSnapshot().isDefined =>
          throw new IllegalStateException(s"lakehouse table ${t.root} already exists")
        case SaveMode.Ignore if t.currentSnapshot().isDefined => ()
        case _ if overwriteBy.isDefined => t.overwriteWhere(data, overwriteBy.get)
        case SaveMode.Overwrite => t.overwrite(data)
        case _ => // Append, or first write under ErrorIfExists/Ignore
          if (cdc) t.applyChanges(data, keys, mergeOnRead = mor)
          else if (keys.nonEmpty) t.upsert(data, keys, mergeOnRead = mor)
          else t.append(data, partitionBy)
      }
    }
    ()
  }

  /** Case-insensitive long option (optimizeWriteTargetBytes). */
  def longOptOf(options: Map[String, String], name: String): Option[Long] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v.trim.toLong }

  def snapshotIdOf(options: Map[String, String]): Option[Long] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("snapshotId") => v.toLong }

  /** `.option("snapshotTag", "corpus-v1")` — the path-face form of
    * `VERSION AS OF '<tag>'` (resolved to a pinned snapshot id at
    * table resolution, like every other time-travel shape).
    */
  def tagOf(options: Map[String, String]): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("snapshotTag") => v }

  /** `.option("snapshotBranch", "audit-1")` — read a BRANCH head (the
    * AUDIT read of write-audit-publish), pinned at resolution like
    * every other time-travel shape.
    */
  def branchOf(options: Map[String, String]): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase("snapshotBranch") => v }

  /** `.option("asOfTimestamp", ...)` — epoch millis, an ISO-8601
    * instant, or `yyyy-MM-dd[ HH:mm:ss]` read as UTC (the Delta
    * timestampAsOf shape).
    */
  def asOfTimestampOf(options: Map[String, String]): Option[Long] =
    options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("asOfTimestamp") => parseTsMillis(v)
    }

  /** A timestamp option value in epoch millis: epoch millis, an
    * ISO-8601 instant, or `yyyy-MM-dd[ HH:mm:ss]` read as UTC — the
    * spelling every snapshot pin (`asOfTimestamp`, `startingTimestamp`,
    * `endingTimestamp`) takes.
    */
  private[lakehouse] def parseTsMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else try java.time.Instant.parse(t).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        val norm = if (t.contains(' ') || t.contains('T')) t.replace(' ', 'T') else t + "T00:00:00"
        java.time.LocalDateTime.parse(norm).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** A stream's start pin — `startingVersion` (a snapshot id),
    * `startingTimestamp` ([[parseTsMillis]]) or `startingTag`, at most
    * one — as the main-line snapshot id it names. A branch snapshot
    * refuses: a stream cannot start from unpublished state.
    */
  private[lakehouse] def streamStartSnapshot(t: LakehouseTable, version: Option[String],
      timestamp: Option[String], tag: Option[String]): Option[Long] = {
    require(Seq(version, timestamp, tag).count(_.isDefined) <= 1,
      "startingVersion / startingTimestamp / startingTag are mutually exclusive")
    val resolved = version.map(x => t.snapshotOrThrow(
        scala.util.Try(x.trim.toLong).getOrElse(throw new IllegalArgumentException(
          s"startingVersion must be a snapshot id, got '$x'"))))
      .orElse(timestamp.map(x => t.snapshotAsOf(parseTsMillis(x))))
      .orElse(tag.map(t.snapshotForTag))
    resolved.foreach(sn => require(sn.branch.isEmpty,
      s"stream-start snapshot ${sn.snapshotId} belongs to branch " +
        s"'${sn.branch.get}' — a stream cannot start from unpublished " +
        "state; publish the branch first"))
    resolved.map(_.snapshotId)
  }

  /** (table, resolved snapshot) for an options map. */
  def snapshotFor(spark: SparkSession, options: Map[String, String]): (LakehouseTable, Snapshot) = {
    val t = new LakehouseTable(spark, rootOf(options))
    val snap = snapshotIdOf(options).map(t.snapshotOrThrow).getOrElse(
      t.currentSnapshot().getOrElse(throw new IllegalStateException(
        s"table ${rootOf(options)} has no snapshots")))
    (t, snap)
  }

  /** Exact residual for the accepted filters — the ORIGINAL predicate
    * semantics (strict bounds stay strict), never the inclusive prune
    * bounds.
    */
  def toCondition(f: Filter): Column = f match {
    case sources.EqualTo(c, v) => col(c) === lit(v)
    case sources.EqualNullSafe(c, v) => col(c) <=> lit(v)
    case sources.GreaterThan(c, v) => col(c) > lit(v)
    case sources.GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case sources.LessThan(c, v) => col(c) < lit(v)
    case sources.LessThanOrEqual(c, v) => col(c) <= lit(v)
    case sources.In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
    case sources.IsNotNull(c) => col(c).isNotNull
    case sources.IsNull(c) => col(c).isNull
    case sources.StringStartsWith(c, p) => col(c).startsWith(p)
    case sources.Or(l, r) => toCondition(l) || toCondition(r)
    case other => throw new IllegalStateException(s"accepted untranslatable filter $other")
  }

  /** Can this filter be enforced exactly by [[toCondition]]? Only such
    * filters are accepted from Catalyst; the rest are returned for the
    * engine to evaluate post-scan. `topLevel` is the table's top-level
    * column set (under the session's name resolution): Spark 4 pushes
    * NESTED-field predicates with dotted names ("s.x"), which the
    * pruner's flat schema lookups would reject with a hard error —
    * those filters must stay with the engine, not the scan.
    */
  def acceptable(f: Filter, topLevel: String => Boolean): Boolean = {
    def refsOk = f.references.forall(topLevel)
    f match {
      case _: sources.EqualTo | _: sources.EqualNullSafe | _: sources.GreaterThan |
           _: sources.GreaterThanOrEqual | _: sources.LessThan |
           _: sources.LessThanOrEqual | _: sources.In |
           _: sources.IsNotNull | _: sources.IsNull | _: sources.StringStartsWith => refsOk
      case sources.Or(l, r) => acceptable(l, topLevel) && acceptable(r, topLevel)
      case _ => false
    }
  }

  /** The keep-set for ONE accepted filter, or None when the filter
    * carries no pruning evidence (keeps everything). Equality and
    * ranges map onto [[ScanPredicate]]s; `In` unions its per-value
    * keep-sets (capped — a huge IN-list prunes nothing rather than
    * looping the planner); `Or` unions its branches' keep-sets, so
    * `id < 100 OR id > 9000` skips every mid-range file — without Or
    * pruning those scans read the whole table.
    */
  private def keepSetFor(t: LakehouseTable, snap: Snapshot, f: Filter): Option[Set[String]] = {
    def one(p: ScanPredicate) = Some(t.pruneFiles(snap, Seq(p))._1.toSet)
    f match {
      case sources.EqualTo(c, v) => one(ScanPredicate.EqualTo(c, v))
      // null-safe equality: a non-null probe prunes like EqualTo (null
      // rows can never match it); a null probe prunes like IS NULL
      case sources.EqualNullSafe(c, v) =>
        if (v == null) one(ScanPredicate.IsNull(c)) else one(ScanPredicate.EqualTo(c, v))
      case sources.GreaterThan(c, v) => one(ScanPredicate.Range(c, Some(v), None))
      case sources.GreaterThanOrEqual(c, v) => one(ScanPredicate.Range(c, Some(v), None))
      case sources.LessThan(c, v) => one(ScanPredicate.Range(c, None, Some(v)))
      case sources.LessThanOrEqual(c, v) => one(ScanPredicate.Range(c, None, Some(v)))
      case sources.StringStartsWith(c, p) => one(ScanPredicate.StartsWith(c, p))
      case sources.IsNull(c) => one(ScanPredicate.IsNull(c))
      case sources.In(c, vs) if vs.nonEmpty =>
        // ANY list size prunes exactly: InSet sorts the probes once and
        // each file answers with a binary search against its manifest
        // range (+ bloom refinement) — the path a RUNTIME join filter
        // with thousands of dim keys needs (a per-value probe loop
        // would pay O(values · files) planning)
        one(ScanPredicate.InSet(c, vs.toSeq))
      case sources.Or(l, r) =>
        for (a <- keepSetFor(t, snap, l); b <- keepSetFor(t, snap, r)) yield a ++ b
      case _ => None // IsNotNull, over-long In: no evidence — keep all
    }
  }

  /** File pruning for the accepted filter set: the intersection of
    * every filter's keep-set (conjunctive semantics), in snapshot file
    * order. All verdicts are driver-side metadata (manifest stats,
    * cached sidecars, path values). With a bucket layout declared
    * (`bucketSpec`), equality/IN probes on the bucketed column
    * additionally prune by `<col>_bucket=` path dirs — a point lookup
    * reads 1/N of the files, and a runtime join filter (the dim side's
    * keys) prunes a bucketed fact to exactly the touched buckets.
    */
  def pruneForFilters(t: LakehouseTable, snap: Snapshot, filters: Seq[Filter],
      bucketSpec: Option[(Int, String)] = None): Seq[String] = {
    val keeps = filters.flatMap(keepSetFor(t, snap, _)) ++
      bucketSpec.toSeq.flatMap { case (n, c) =>
        filters.flatMap(bucketKeepSet(t, snap, _, n, c)) }
    if (keeps.isEmpty) snap.files
    else snap.files.filter(f => keeps.forall(_.contains(f)))
  }

  /** Bucket-dir keep-set for one filter, or None (no evidence). A file
    * WITHOUT the bucket dir always keeps (mixed lineage written before
    * the spec); a probe that can't hash (cast failure) prunes nothing —
    * over-keeping is safe, a wrong drop would resurrect deletes.
    */
  private def bucketKeepSet(t: LakehouseTable, snap: Snapshot, filter: Filter,
      n: Int, c: String): Option[Set[String]] = {
    val key = t.resolvedNameKey(c)
    val dirKey = t.resolvedNameKey(s"${c}_bucket")
    def dt = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType].fields
      .find(f => t.resolvedNameKey(f.name) == key).map(_.dataType)
    def idOf(v: Any): Option[Int] = dt.flatMap(d =>
      scala.util.Try(((t.probeHash(v, d) % n + n) % n).toInt).toOption)
    // spec evolution: a file written under a PREVIOUS spec may carry a
    // bucket dir computed with a different N — its dir value must never
    // drive a drop (5 mod 8 ≠ 5 mod 4); only post-evolution files prune
    val since = t.partitionSpecSince
    def keep(ids: Set[Int]): Set[String] = snap.files.filter { f =>
      t.originOfFile(f) <= since || {
        LakehouseTable.hiveSegsOf(f).map(_.split("=", 2)).collectFirst {
          case Array(k, v) if t.resolvedNameKey(k) == dirKey =>
            scala.util.Try(v.toInt).toOption.forall(ids.contains)
        }.getOrElse(true)
      }
    }.toSet
    filter match {
      case sources.EqualTo(a, v) if t.resolvedNameKey(a) == key && v != null =>
        idOf(v).map(id => keep(Set(id)))
      case sources.In(a, vs) if t.resolvedNameKey(a) == key =>
        val ids = vs.filter(_ != null).map(idOf)
        if (ids.isEmpty || ids.exists(_.isEmpty)) None
        else Some(keep(ids.flatten.toSet))
      case _ => None
    }
  }
}

private[lakehouse] final class LakehouseV2Table(
    tableSchema: StructType,
    private[lakehouse] val options: Map[String, String],
    catalogProps: Map[String, String] = Map.empty) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  private def nameKeyOf(n: String): String =
    if (SparkSession.active.sessionState.conf.caseSensitiveAnalysis) n
    else n.toLowerCase(java.util.Locale.ROOT)

  /** The declared layout as connector Transforms — what lets the
    * analyzer resolve `INSERT OVERWRITE t PARTITION (p='x')` (static
    * partition overwrite) and DESCRIBE show the partitioning.
    */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    options.get("partitionBy").map(LakehouseSource.splitTopLevel).getOrElse(Nil)
      .map {
        case LakehouseTable.BucketSpecRe(n, c) => Expressions.bucket(n.toInt, c)
        case c => Expressions.identity(c)
      }.toArray
  }

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED: the stored free-form
    * properties plus the live write knobs.
    */
  override def properties(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    (Map("provider" -> "graft-lakehouse") ++
      options.get("optimizeWrite").map("optimizeWrite" -> _) ++
      options.get("optimizeWriteTargetBytes").map("optimizeWrite.targetBytes" -> _) ++
      catalogProps).asJava
  }

  // ---------------- partition surface (SHOW PARTITIONS) ----------------

  /** The IDENTITY partition columns of the declared spec, in spec
    * order — what `SHOW PARTITIONS` enumerates. Bucket transforms are
    * layout, not partitions (their volume view is `t$partitions`).
    */
  override def partitionSchema(): StructType = {
    val spec = options.get("partitionBy")
      .map(LakehouseSource.splitTopLevel).getOrElse(Nil)
    StructType(spec.filterNot(LakehouseTable.BucketSpecRe.findFirstIn(_).isDefined)
      .flatMap(c => tableSchema.fields.find(f => nameKeyOf(f.name) == nameKeyOf(c))))
  }

  /** Distinct live partition-value tuples from the current snapshot's
    * hive paths (driver-side manifest read, zero jobs; the values
    * decode with Spark's own unescape + cast). `names`/`ident` filter
    * on a prefix of the partition columns (the `SHOW PARTITIONS t
    * PARTITION (p='x')` form).
    */
  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val pf = partitionSchema().fields
    if (pf.isEmpty) return Array.empty
    val spark = SparkSession.active
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val t = new LakehouseTable(spark, LakehouseSource.rootOf(options))
    val snap = LakehouseSource.snapshotIdOf(options)
      .map(t.snapshotOrThrow).orElse(t.currentSnapshot())
      .getOrElse(return Array.empty)
    val wantIdx = names.map(n => pf.indexWhere(f => nameKeyOf(f.name) == nameKeyOf(n)))
    require(wantIdx.forall(_ >= 0),
      s"unknown partition column(s) ${names.mkString(", ")}")
    // enumeration is manifest-based (zero jobs): file-path tuples,
    // deliberately tombstone-blind — a partition whose rows are all
    // MoR-masked still lists until compaction folds its files away.
    // Files missing a hive segment for ANY spec column (pre-spec flat
    // lineage) are SKIPPED: their values are unknown, not null, and an
    // all-NULL tuple would fabricate a __HIVE_DEFAULT_PARTITION__ row.
    // The raw segment goes to castPartValueToDesiredType, which applies
    // Spark's (single) path-unescape itself for escape-sensitive types.
    val tuples = snap.files.flatMap { f =>
      val segs = LakehouseTable.hiveSegsOf(f).map(_.split("=", 2))
      val vals = pf.map { field =>
        segs.collectFirst {
          case Array(k, v) if nameKeyOf(k) == nameKeyOf(field.name) =>
            if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else org.apache.spark.sql.execution.datasources.PartitioningUtils
              .castPartValueToDesiredType(field.dataType, v, zone)
        }
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get).toSeq)
    }.distinct
    tuples.filter { vals =>
      wantIdx.zipWithIndex.forall { case (pi, ni) =>
        val want = ident.get(ni, pf(pi).dataType)
        val got = vals(pi)
        (want == null && got == null) || (want != null && want == got)
      }
    }.map(vals => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      vals.toArray)).toArray
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-lakehouse partitions are derived from data (hive-style dirs " +
        "per write) — ADD PARTITION is meaningless; write rows instead")

  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "graft-lakehouse DROP PARTITION is unsupported — DELETE FROM t " +
        "WHERE <partition predicate> removes the rows (file-pruned)")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-lakehouse partitions carry no metadata")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow): java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  /** SQL `TRUNCATE TABLE t`: one overwrite commit to empty, schema
    * preserved, history time-travelable.
    */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val t = new LakehouseTable(spark, LakehouseSource.rootOf(options))
    val schema = t.currentSnapshot().map(s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType]).getOrElse(tableSchema)
    t.overwrite(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema))
    true
  }

  override def name(): String =
    "graft_lakehouse:" + LakehouseSource.rootOf(options) +
      LakehouseSource.snapshotIdOf(options).map("@" + _).getOrElse("")

  override def schema(): StructType = tableSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      // append-only readStream.table (LakehouseMicroBatchStream);
      // row-level change streams stay with format("graft-changefeed")
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer computes the source-
      // minus-target TableChanges and calls the catalog's alterTable —
      // which, for that caller, STAGES them (round 14, dry-run honest:
      // see [[LakehouseDml.stageEvolution]]); analysis re-resolves the
      // target over the staged shape and star actions re-expand, and
      // the merge EXEC commits the DDL as ordinary alter snapshots
      // (replicating through the schema-history channel) only when it
      // actually RUNS — an EXPLAIN of an evolving merge leaves the
      // table untouched.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION,
      // partition-scoped overwrite (the daily backfill shape):
      // INSERT OVERWRITE ... PARTITION (p='x') plans OverwriteByExpression
      // (one snapshot: matching rows out, new data in)
      TableCapability.OVERWRITE_BY_FILTER) match {
      case caps =>
        // CATALOG-resolved tables additionally advertise the SQL
        // dynamic partition overwrite pair (round 13): OVERWRITE_DYNAMIC
        // because `INSERT OVERWRITE` under partitionOverwriteMode=
        // dynamic analyzes to OverwritePartitionsDynamic (planned by
        // [[LakehouseDmlStrategy]], which the catalog installs; the
        // write builder's SupportsDynamicOverwrite face exists only to
        // get the node past the optimizer, and its marker Write fails
        // loudly if the strategy is somehow absent), and BATCH_WRITE
        // because TableCapabilityCheck demands the REAL capability for
        // this one verb (no V1-fallback clause) — safe for catalog
        // tables since every other write shape dispatches on the WRITE
        // OBJECT type and ours stay V1Write. The PATH face must NOT
        // carry BATCH_WRITE: DataFrameWriter.save() would switch from
        // the V1 CreatableRelationProvider (auto-create, keyed
        // upserts) to the V2 AppendData path and break against a
        // snapshot-less root.
        if (options.keys.exists(_.equalsIgnoreCase("graft.catalogTable"))) {
          caps.add(TableCapability.OVERWRITE_DYNAMIC)
          caps.add(TableCapability.BATCH_WRITE)
          // round 14: catalog tables are FULLY DSv2 on the write side —
          // V1_BATCH_WRITE must go, because the planner gives it
          // priority over BATCH_WRITE (a table declaring it must hand
          // back V1Writes); with it gone, INSERT INTO / CTAS / INSERT
          // OVERWRITE / keyed writeTo all plan the v2 execs over
          // [[LakehouseDsv2Write]]'s executor-side writers
          caps.remove(TableCapability.V1_BATCH_WRITE)
        }
        // round 16: the DSv2 STREAMING write face serves EVERY stream
        // shape over EVERY root — keyless appends (round 14), keyed /
        // merge-on-read applies (round 15, split writers + staged
        // commits), and now snapshot-less roots too: the write seeds
        // an empty table from the query schema before the first epoch
        // plans ([[LakehouseDsv2Write]]), so the V1 sink (and its
        // duplicate keyed batch dispatch) is fully retired.
        caps.add(TableCapability.STREAMING_WRITE)
        caps
    }

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new LakehouseScanBuilder(tableSchema, options ++ scanOptions.asScala)

  /** V2 write face over the V1 table API (the official V1Write bridge):
    * `INSERT INTO` appends (honoring the table's stored partition
    * layout and, with a `keys` option, the keyed merge), `INSERT
    * OVERWRITE` / truncate replaces content — each as one snapshot
    * commit, so the SQL surface gets the same lineage/time-travel as
    * the programmatic one. Reads pinned at load never see these
    * writes (snapshot isolation); a fresh resolve does.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var doTruncate = false
      private var dynamicMode = false
      private var overwriteBy: Option[Seq[Filter]] = None
      override def overwriteDynamicPartitions()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        dynamicMode = true; this
      }
      // per-write options (df.writeTo(...).option("keys", ...)) override
      // table-level ones (the catalog's stored partitionBy)
      private val writeOpts = options ++ info.options.asScala
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        doTruncate = true; this
      }
      /** `INSERT OVERWRITE t PARTITION (p='x')` and friends: the
        * analyzer's delete-expression arrives as source filters; all-
        * AlwaysTrue (a full INSERT OVERWRITE) keeps the truncate path.
        */
      override def overwrite(filters: Array[Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        if (filters.forall(_.isInstanceOf[sources.AlwaysTrue])) doTruncate = true
        else overwriteBy = Some(filters.toSeq)
        this
      }
      override def canOverwrite(filters: Array[Filter]): Boolean = {
        val cols = tableSchema.fieldNames.map(nameKeyOf).toSet
        filters.forall(f => f.isInstanceOf[sources.AlwaysTrue] ||
          LakehouseSource.acceptable(f, r => cols(nameKeyOf(r))))
      }
      override def build(): org.apache.spark.sql.connector.write.Write = {
        // dynamic mode executes through LakehouseDmlStrategy
        // (DynamicOverwriteLakehouseExec) — this Write is a MARKER the
        // strategy never consumes; reaching toBatch means the strategy
        // is not installed, which must fail loudly, never append
        if (dynamicMode) return new org.apache.spark.sql.connector.write.Write {
          override def description(): String = "graft-lakehouse dynamic-overwrite marker"
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            throw new UnsupportedOperationException(
              "graft-lakehouse dynamic partition overwrite plans through the " +
                "DML strategy — configure the table's catalog (which installs " +
                "it) or use LakehouseTable.overwriteDynamic")
        }
        // the DSv2 write face (round 14): executor-side parquet
        // writers, one metadata-only commit. CATALOG tables (real
        // BATCH_WRITE, V1_BATCH_WRITE dropped) take it for EVERY batch
        // shape — append / CTAS / full and filter overwrite / keyed
        // writeTo — each as a commit mode over the same writers. The
        // PATH face keeps V1 batch writes (V1_BATCH_WRITE +
        // CreatableRelationProvider) while its STREAMING rides the
        // same DSv2 face through toStreaming.
        if (options.keys.exists(_.equalsIgnoreCase("graft.catalogTable"))) {
          val keys = LakehouseSource.colListOf(writeOpts, "keys")
          val mor = LakehouseSource.boolOpt(writeOpts, "mergeOnRead")
          val mode =
            if (doTruncate) Dsv2CommitMode.Truncate
            else if (overwriteBy.isDefined) Dsv2CommitMode.OverwriteBy(overwriteBy.get)
            else if (keys.nonEmpty) Dsv2CommitMode.Keyed(keys, mor)
            else Dsv2CommitMode.Append
          return new LakehouseDsv2Write(
            LakehouseSource.rootOf(options), writeOpts, info.schema(), mode)
        }
        // the PATH face: batch inserts dispatch like `df.write.save`,
        // streams ride the DSv2 face (append- or keyed-shaped only),
        // sorted by the layout this Write requests
        val root = LakehouseSource.rootOf(options)
        new org.apache.spark.sql.connector.write.V1Write with RequiresDistributionAndOrdering {
          override def requiredDistribution(): Distribution = Distributions.unspecified()
          override def requiredOrdering(): Array[SortOrder] =
            LakehouseDsv2Write.layoutOrdering(LakehouseSource.colListOf(writeOpts, "partitionBy"))
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit =
                LakehouseSource.writePath(
                  LakehouseSource.writeTableOf(data.sparkSession, root, writeOpts),
                  data, writeOpts,
                  if (doTruncate || overwrite) SaveMode.Overwrite else SaveMode.Append,
                  overwriteBy)
            }
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!doTruncate && overwriteBy.isEmpty,
              "graft-lakehouse streaming writes are append- or keyed-shaped")
            val (keys, mor) = LakehouseSource.keyedOptsOf(writeOpts)
            new LakehouseDsv2Write(root, writeOpts, info.schema(),
              if (keys.isEmpty) Dsv2CommitMode.Append else Dsv2CommitMode.Keyed(keys, mor))
              .toStreaming
          }
        }
      }
    }
}

private[lakehouse] final class LakehouseScanBuilder(
    tableSchema: StructType, options: Map[String, String],
    internal: Option[LakehouseInternalTable] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var accepted: Array[Filter] = Array.empty
  /** Set when a metadata-answerable aggregate was pushed: the one
    * result row's values + schema, straight from the manifest.
    */
  private var pushedAgg: Option[(Seq[Any], StructType)] = None

  private def nameKey(n: String): String =
    if (SparkSession.active.sessionState.conf.caseSensitiveAnalysis) n
    else n.toLowerCase(java.util.Locale.ROOT)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // only filters whose referenced columns are TOP-LEVEL table fields
    // may push: Spark translates nested-struct predicates with dotted
    // names ("s.x"), which the flat-schema pruner must not see — they
    // stay with the engine and evaluate post-scan
    val cols = tableSchema.fieldNames.map(nameKey).toSet
    accepted = filters.filter(
      LakehouseSource.acceptable(_, r => cols(nameKey(r))))
    // EVERYTHING returns as post-scan residual (the partial-pushdown
    // contract): accepted filters drive file skipping and parquet
    // row-group pruning, while the engine's retained Filter node
    // enforces exactness — strict bounds stay strict even though
    // pruning evidence is inclusive
    filters
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projection (e.g. COUNT(*)) keeps one column so the inner
    // frame still has a schema; row counts stay exact either way
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(tableSchema.fields.take(1))

  /** COUNT(*) / MIN(col) / MAX(col) answer from O(files) manifest
    * metadata (the Iceberg/Delta metadata-query shape): per-file row
    * counts and column min/max are recorded in the snapshot's stats at
    * write time, so `SELECT count(*), min(id), max(id)` needs zero
    * data files and zero Spark scan work. Only COMPLETE pushdown is
    * claimed, and only when nothing else constrains the scan: no
    * grouping, no pushed filters (the manifest can't evaluate them),
    * DISTINCT-free aggregates, and every value exactly resolvable for
    * EVERY file ([[LakehouseTable.manifestRowCount]] /
    * [[LakehouseTable.manifestMinMax]] spell out the exactness rules —
    * any ambiguity falls back to the real scan).
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushAggregation(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (pushedAgg.isDefined) return true // idempotent re-probe
    // an internal read covers a file SUBSET (or ignores tombstones):
    // the snapshot-wide manifest answer would be wrong for it
    if (internal.isDefined || agg.groupByExpressions.nonEmpty ||
      agg.aggregateExpressions.isEmpty || accepted.nonEmpty) return false
    val spark = SparkSession.active
    val (t, snap) = LakehouseSource.snapshotFor(spark, options)
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[org.apache.spark.sql.types.StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        tableSchema.fields.find(f => nameKey(f.name) == nameKey(r.fieldNames.head))
      case _ => None
    }
    val resolved = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => t.manifestRowCount(snap).map(n =>
        (n: Any, org.apache.spark.sql.types.StructField(
          "count_star", org.apache.spark.sql.types.LongType, nullable = false),
          "COUNT(*)"))
      case m: Min => fieldOf(m.column).flatMap(f =>
        t.manifestMinMax(snap, f.name, wantMin = true).map(v =>
          (v, org.apache.spark.sql.types.StructField(s"min_${f.name}", f.dataType),
            s"MIN(${f.name})")))
      case m: Max => fieldOf(m.column).flatMap(f =>
        t.manifestMinMax(snap, f.name, wantMin = false).map(v =>
          (v, org.apache.spark.sql.types.StructField(s"max_${f.name}", f.dataType),
            s"MAX(${f.name})")))
      case _ => None // sum/avg/count(col)/distinct: the real scan answers
    }
    if (resolved.exists(_.isEmpty)) return false
    val rs = resolved.map(_.get)
    pushedAgg = Some((rs.map(_._1), StructType(rs.map(_._2))))
    // the audit surface shows the metadata answer read NO files
    ScanEvents.record(LakehouseSource.rootOf(options),
      ScanInfo(0, snap.files.size, Nil, rs.map(_._3)))
    true
  }

  override def build(): Scan = pushedAgg match {
    case Some((values, aggSchema)) => new LakehouseAggScan(values, aggSchema)
    case None => internal.fold(new LakehouseBatchScan(options, required, accepted))(
      _.scan(required, accepted))
  }
}

/** An engine-internal read as a DSv2 table: `files` of one already-
  * resolved snapshot, masked by its tombstones or raw (`masked =
  * false`: the stored rows as committed). [[LakehouseTable.scanFiles]]
  * wraps it in a relation, so internal reads plan the SAME native scan
  * as user reads — column pruning, pushed-filter file skipping, rename
  * eras and MoR masks included — without re-listing the manifest. The
  * schema is the snapshot's, every column nullable (files that predate
  * a column serve it as NULL).
  */
private[lakehouse] final class LakehouseInternalTable(
    resolved: (LakehouseTable, Snapshot), files: Seq[String], masked: Boolean)
    extends Table with SupportsRead {
  private val (t, snap) = resolved
  private val readSchema: StructType = org.apache.spark.sql.GraftDatasetAccess.nullable(
    DataType.fromJson(snap.schemaJson).asInstanceOf[StructType])
  private val options = Map("path" -> t.root)

  override def name(): String = s"graft_lakehouse_internal:${t.root}@${snap.snapshotId}"
  override def schema(): StructType = readSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new LakehouseScanBuilder(readSchema, options, Some(this))

  def scan(required: StructType, accepted: Array[Filter]): LakehouseBatchScan =
    new LakehouseBatchScan(options, required, accepted, fileSubset = Some(files.toSet),
      masked = masked, pinned = Some(resolved))
}

/** The pushed-aggregate scan: ONE row of manifest-derived values. */
private[lakehouse] final class LakehouseAggScan(
    values: Seq[Any], aggSchema: StructType) extends V1Scan {
  override def readSchema(): StructType = aggSchema

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = aggSchema
      override def buildScan(): RDD[Row] =
        context.sparkSession.sparkContext.parallelize(Seq(Row(values: _*)), 1)
    }.asInstanceOf[T]
}

/** Per-root record of the last planned USER scan — how specs (and
  * humans) observe that pushdown actually pruned: `filesPlanned` is the
  * post-skipping scan set, `filesTotal` the snapshot's, and
  * `columnsRead` the projected schema that reached parquet. The
  * engine's own reads (keyed-write probes, compaction, `read()`) plan
  * the same scan but never record here.
  */
final case class ScanInfo(
    filesPlanned: Int, filesTotal: Int, columnsRead: Seq[String], pushed: Seq[String])

object ScanEvents {
  private val Cap = 256
  private val last = new java.util.concurrent.ConcurrentHashMap[String, ScanInfo]()
  private[lakehouse] def record(root: String, info: ScanInfo): Unit = {
    // observability, not state: bound the per-root map so a long-lived
    // session scanning many ephemeral roots can't grow driver memory.
    // Evict ONE entry, not the map — clearing would wipe lastScan for
    // every active root each time an ephemeral one records
    if (last.size >= Cap && !last.containsKey(root)) {
      val it = last.keySet.iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }
    last.put(root, info)
  }
  def lastScan(root: String): Option[ScanInfo] = Option(last.get(root))
}
