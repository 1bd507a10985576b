package graft.lakehouse

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Key-tombstone mask data for the merge-on-read scan
  * ([[LakehouseBatchScan]], the lakehouse's one read path): one entry
  * per distinct tombstone KEY SET, holding every masked key tuple
  * (canonicalized) with the max origin snapshot of a tombstone carrying
  * it. A data row in a file with origin `o` is masked iff its key tuple
  * maps to an origin `> o` — anti-join-with-origin-sequencing semantics
  * folded into a hash probe the partition readers run per row.
  *
  * Scale shape: tombstones are CDC-batch-sized (each MoR apply writes
  * its batch's keys), so the mask is batch-sized too — built once at
  * plan time, shipped once as a Spark broadcast, and gone after
  * compaction folds the tombstones. This is what keeps a busy
  * replication target on the vectorized reader + runtime file pruning
  * + SPJ BETWEEN compactions.
  */
final case class MorMaskData(
    keyNames: Seq[String],
    keyTypes: Seq[DataType],
    /** canonicalized key tuple → newest tombstone origin masking it */
    byKey: Map[List[Any], Long],
    maxOrigin: Long) extends Serializable

/** Per-partition mask spec: where the key columns sit in the reader's
  * output row (the group's widened (data ++ partition) schema) and the
  * broadcast mask to probe.
  */
final case class MorMaskSpec(
    bc: org.apache.spark.broadcast.Broadcast[MorMaskData],
    ordinals: Array[Int],
    types: Array[DataType]) extends Serializable

object LakehouseMor {

  /** Test observability (local-mode exact, cluster-mode per-executor):
    * batches that flowed through the masked columnar reader untouched
    * vs batches that paid the survivor copy.
    */
  val batchesPassedThrough = new java.util.concurrent.atomic.AtomicLong
  val batchesCopied = new java.util.concurrent.atomic.AtomicLong

  /** Canonical equality representation for a key value, applied
    * IDENTICALLY to tombstone rows (driver, at mask build) and data
    * rows (executor, per probe) — both read through
    * `InternalRow.get(i, dt)`, so strings arrive as UTF8String and
    * date/timestamp as their int/long encodings. Integral widths fold
    * to Long so a (future) type-widened lineage still matches. Binary
    * keys copy into an immutable byte sequence (content equality and
    * hashing; the reader may reuse the row's buffer). Merge-on-read
    * writes refuse nested keys ([[requireMaskableKeys]]).
    */
  def canon(dt: DataType, v: Any): Any = dt match {
    case StringType => v.toString
    case ByteType => v.asInstanceOf[Byte].toLong
    case ShortType => v.asInstanceOf[Short].toLong
    case IntegerType | DateType => v.asInstanceOf[Int].toLong
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
    // Float folds to Double so a float→double-widened lineage still
    // matches: tombstones written pre-widening decode as Float while
    // data rows probe at the declared (Double) width — without the
    // fold the native scan would stop masking and resurrect deletes.
    case FloatType => v.asInstanceOf[Float].toDouble
    case DoubleType | BooleanType => v
    case BinaryType =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(v.asInstanceOf[Array[Byte]].clone())
    // decimal normalizes scale-insensitively (stripTrailingZeros): the
    // tombstone dir's physical (precision, scale) and the declared
    // type agree today, but equality must not hinge on it — financial
    // CDC keys are routinely DECIMAL and must keep the native scan
    case _: DecimalType =>
      val jbd = v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros
      // BigDecimal("0E-7").stripTrailingZeros keeps its scale pre-Java-8
      // semantics for zero on some paths — pin zero to ONE image
      if (jbd.signum == 0) java.math.BigDecimal.ZERO else jbd
    // nested values fold to lists of their canon'd parts (NULL parts
    // kept): only a copy-on-write key set holds them, as merge-on-read
    // writes refuse nested keys
    case st: StructType =>
      val r = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      st.fields.indices.map(i =>
        if (r.isNullAt(i)) null else canon(st(i).dataType, r.get(i, st(i).dataType))).toList
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else canon(et, a.get(i, et))).toList
    case other => throw new IllegalStateException(
      s"unsupported MoR mask key type $other (merge-on-read writes refuse such keys)")
  }

  /** External-typed probe value for a canon'd key. The manifest prune
    * path ([[ScanPredicate.InSet]]) feeds probes through
    * `Literal()`/`Cast` for bloom hashing — a raw canon Long for a DATE
    * key would be an impossible cast there and could wrongly DROP an
    * affected file (resurrecting deleted rows). De-canon restores the
    * exact external type: int/long/string keys (the CDC norm) keep
    * full stats+bloom pruning; date/timestamp/boolean/decimal keys
    * merely prune less — never wrongly. (Decimal canon is already a
    * java BigDecimal, which Literal()/lit() take directly.)
    */
  def decanon(dt: DataType, v: Any): Any = dt match {
    case FloatType => v.asInstanceOf[Double].toFloat
    case ByteType => v.asInstanceOf[Long].toByte
    case ShortType => v.asInstanceOf[Long].toShort
    case IntegerType => v.asInstanceOf[Long].toInt
    case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Long])
    case TimestampType =>
      val us = v.asInstanceOf[Long]
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)
    case TimestampNTZType =>
      val us = v.asInstanceOf[Long]
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case BinaryType => v.asInstanceOf[scala.collection.immutable.ArraySeq[Byte]].toArray
    case _ => v
  }

  /** Refuse a merge-on-read keyed write whose key columns are nested
    * (struct/array/map) BEFORE any file is written: tombstone masks
    * match flat key values, so such a tombstone could never be read.
    */
  def requireMaskableKeys(schema: StructType, keys: Seq[String]): Unit =
    keys.foreach { k =>
      schema.fields.find(_.name.equalsIgnoreCase(k)).map(_.dataType).foreach {
        case dt @ (_: StructType | _: ArrayType | _: MapType) =>
          throw new IllegalArgumentException(
            s"merge-on-read key column '$k' has nested type ${dt.simpleString}: " +
              "tombstones match flat key values only — key on flat columns or " +
              "write copy-on-write (mergeOnRead = false)")
        case _ => ()
      }
    }

  private def dirOf(relFile: String): String = LakehouseTable.claimDirOf(relFile)

  /** Mask-build LRU: a snapshot's tombstone set is IMMUTABLE once
    * committed (tombstone paths carry per-write nonces, so a dropped-
    * and-recreated table at the same root can never alias an entry),
    * yet every scan PLANNING of a MoR snapshot was re-reading the key
    * parquet — several Spark jobs per plan, paid again for every action
    * a serve/gate runs over the same snapshot. Bounded access-ordered
    * LRU of the built masks (driver metadata, batch-sized — the same
    * volume a broadcast ships); 64 entries matches the staged-evolution
    * LRU discipline in [[LakehouseDml]].
    */
  private val maskCache = new java.util.LinkedHashMap[
      (String, Long, Seq[String]), Seq[MorMaskData]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Long, Seq[String]), Seq[MorMaskData]]): Boolean =
      size() > 64
  }

  /** Build the masks: per tombstone dir group, read the key parquet and
    * fold tuples into `byKey` at that dir's origin; dirs sharing one
    * key set merge max-origin-wins. Null-key tuples drop (SQL equality:
    * a null key masks nothing). Driver-side collect of batch-sized key
    * sets.
    */
  def build(spark: SparkSession, t: LakehouseTable, snap: Snapshot): Seq[MorMaskData] = {
    val key = (t.rootAbsPath, snap.snapshotId, snap.tombstones)
    maskCache.synchronized(Option(maskCache.get(key))) match {
      case Some(hit) => hit
      case None =>
        val dirs = snap.tombstones.groupBy(dirOf).toSeq.sortBy(_._1).map { case (_, fs) =>
          // files within one claim dir come from ONE write (one schema), so
          // the DRIVER-side footer read is exact (leaf-file reads discover
          // no hive partition columns, same as the changesBetween path) —
          // an uninferred read paid a schema-inference Spark job per dir
          // per mask build; inference remains the unreadable-footer fallback
          val df = t.footerSchemaOf(fs.head)
            .fold(spark.read)(s => spark.read.schema(s))
            .parquet(fs.map(t.absDataPath): _*)
          val names = df.columns.sorted.toSeq
          // .copy() is load-bearing: the scan REUSES its UnsafeRow per
          // partition, so uncopied rows would all alias the LAST one —
          // every tombstone key but one would vanish. collect() (not
          // toLocalIterator, which submits one job PER PARTITION) drains
          // the batch-sized key set in a single job.
          (names, names.map(n => df.schema(n).dataType), t.originOfFile(fs.head),
            () => df.select(names.map(col): _*).queryExecution.toRdd.map(_.copy()).collect().toSeq)
        }
        val built = keyMasks(DataType.fromJson(snap.schemaJson).asInstanceOf[StructType], dirs)
        maskCache.synchronized(maskCache.put(key, built))
        built
    }
  }

  /** A keyed batch's key set, from `rows` of its tomb key files (in
    * `schema`'s column order) as one mask whose every tuple sits at
    * origin `Long.MaxValue`: it drops the batch's keys from every data
    * file, a racer's newer files included — the copy-on-write rewrite's
    * gate ([[LakehouseTable.commitKeyed]]). None when every tuple holds
    * a NULL key, which equals nothing.
    */
  def batchKeys(schema: StructType, rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : Option[MorMaskData] =
    keyMasks(schema, Seq((schema.fieldNames.toSeq, schema.fields.map(_.dataType).toSeq,
      Long.MaxValue, () => rows))).headOption

  /** The files among `files` that `masks` could mask rows in.
    * Metadata-only: per mask, the file must be OLDER than the mask's
    * newest tombstone AND its manifest stats / partition path must
    * admit at least one masked key value per key column (the
    * conjunctive InSet probe — a superset of truly affected files;
    * the per-row probe is exact).
    */
  def affectedFiles(t: LakehouseTable, snap: Snapshot, masks: Seq[MorMaskData],
      files: Seq[String]): Seq[String] =
    if (masks.isEmpty) Nil
    else {
      val originOf = files.map(f => f -> t.originOfFile(f)).toMap
      masks.flatMap { m =>
        val preds = m.keyNames.zipWithIndex.map { case (k, i) =>
          ScanPredicate.InSet(k, m.byKey.keysIterator
            .map(tup => decanon(m.keyTypes(i), tup(i))).toSeq.distinct)
        }
        val kept = t.pruneFiles(snap, preds)._1.toSet
        files.filter(f => kept(f) && originOf(f) < m.maxOrigin)
      }.distinct
    }

  /** The masks of key-file dirs, each given as (its key column names,
    * their physical types, its origin, its rows in that column order):
    * dirs sharing one key set merge max-origin-wins, recorded at
    * `schema`'s declared key types.
    */
  private def keyMasks(schema: StructType,
      perDir: Seq[(Seq[String], Seq[DataType], Long,
        () => Seq[org.apache.spark.sql.catalyst.InternalRow])]): Seq[MorMaskData] = {
    val declared = schema.fields
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
    perDir.groupBy(_._1).toSeq.sortBy(_._1.mkString(",")).map { case (names, group) =>
      // recorded key types are the DECLARED (widest) ones: canon folds
      // integral widths to Long, so a tombstone written before a type
      // widening still matches data read at the wide type — each dir's
      // rows decode with the dir's OWN physical types below
      val types = names.map(n =>
        declared.getOrElse(n.toLowerCase(java.util.Locale.ROOT), group.head._2(names.indexOf(n))))
      val acc = scala.collection.mutable.HashMap.empty[List[Any], Long]
      group.foreach { case (_, ts, origin, rows) =>
        rows().foreach { row =>
          var i = 0
          var ok = true
          val vals = new Array[Any](types.length)
          while (i < types.length && ok) {
            // decode with the dir's OWN physical type (ts), canon folds
            // widths so pre-widening tombstones match wide data rows
            if (row.isNullAt(i)) ok = false
            else { vals(i) = canon(ts(i), row.get(i, ts(i))); i += 1 }
          }
          if (ok) {
            val key = vals.toList
            val prev = acc.getOrElse(key, Long.MinValue)
            if (origin > prev) acc(key) = origin
          }
        }
      }
      MorMaskData(names, types, acc.toMap,
        group.map(_._3).max)
    }.filter(_.byKey.nonEmpty)
  }

  /** Is `row` (the reader's widened output row) masked given its file's
    * origin snapshot? True iff ANY mask holds its full non-null key
    * tuple at a strictly newer origin.
    */
  def masked(row: org.apache.spark.sql.catalyst.InternalRow,
      masks: Array[MorMaskSpec], origin: Long): Boolean = {
    var m = 0
    while (m < masks.length) {
      val sp = masks(m)
      if (sp.bc.value.maxOrigin > origin && newestOrigin(row, sp) > origin) return true
      m += 1
    }
    false
  }

  /** Does `sp`'s mask hold `row`'s full non-null key tuple at all? */
  def holds(row: org.apache.spark.sql.catalyst.InternalRow, sp: MorMaskSpec): Boolean =
    newestOrigin(row, sp) > Long.MinValue

  /** The newest origin `sp`'s mask holds `row`'s key tuple at;
    * `Long.MinValue` for a NULL key part or a tuple it does not hold.
    */
  private def newestOrigin(row: org.apache.spark.sql.catalyst.InternalRow,
      sp: MorMaskSpec): Long = {
    val n = sp.ordinals.length
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      val ord = sp.ordinals(i)
      if (row.isNullAt(ord)) return Long.MinValue
      vals(i) = canon(sp.types(i), row.get(ord, sp.types(i)))
      i += 1
    }
    sp.bc.value.byKey.getOrElse(vals.toList, Long.MinValue)
  }
}
