package graft.lake.dsv2

import graft.lake.LakeTable
import graft.schema.FieldIds
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Reader factory of every graft DSv2 read — whole-state scans, point
  * lookups, `changesFrom` ranges and streaming micro-batches. Columnar
  * only: constant per factory, so Spark's all-or-nothing columnar
  * requirement on the exec node holds by construction.
  *
  * `eras` maps a requested column to the other names a file may store it
  * under (rename eras, [[graft.schema.FieldIds]]); it is computed on the
  * driver from a schema that carries the alias metadata — Spark's column
  * pruner is not obligated to preserve field metadata into `required`. */
final class GraftReaderFactory(required: StructType, includeTombstones: Boolean,
                               eras: Map[String, Seq[String]])
    extends PartitionReaderFactory {
  /** Conf for Spark's vectorized reader, prepared once on the driver
    * (SQLConf-derived keys; see Bridge.parquetReadConf). Built eagerly so
    * it serializes with the factory. */
  private val conf = Bridge.parquetReadConf(org.apache.spark.sql.SparkSession.active)

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft scans read columnar batches only")

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new GraftColumnarPartitionReader(partition.asInstanceOf[GraftInputPartition],
      required, includeTombstones, conf.value, eras)
}

/** The one read path of the graft DSv2 layer.
  *
  * Delegates the parquet decode to Spark's own
  * `VectorizedParquetRecordReader` — column-parallel page decompression
  * straight into ColumnVectors, handed to whole-stage codegen as
  * ColumnarBatches with zero per-row object construction. That is the
  * read shape wide binary/media-heavy rows need at 100 TB. The reference
  * stores Arrow columnar for the same reason (reference
  * src/places/writer.rs:3-13) but then decodes rows one at a time.
  *
  * Pushed predicates: the partition's `lsn > bound` (CDC ranges, streams,
  * `lsn >` filters), `repo =` and `path =` (point lookups) go into the
  * reader's conf as a parquet filter predicate, which drives row-group
  * stats, dictionary and column-index skipping. Each is pushed only when
  * this file's footer holds the column — a predicate on an absent column
  * evaluates against all-null and would skip every row group.
  *
  * Residual selection: skipping is coarse (row groups, pages), so the
  * same predicates, plus the tombstone flag under `read()` semantics, are
  * applied per row by wrapping each projected vector in a
  * [[SelectedColumnVector]] — a selection-map delegate over the reader's
  * own vectors (the zero-copy trick Iceberg's vectorized delete-filter
  * uses). Predicate columns the scan does not project are decoded as
  * filter-only columns after the projected ones. A null `lsn` (a file
  * predating the column) is kept, as is a null `_deleted`. A batch with
  * every row selected passes the reader's vectors through untouched.
  *
  * Schema evolution is the vectorized reader's native behavior: a
  * requested column absent from an old file reads as all-null
  * (missing-column vector), and a column widened since the file was
  * written (int→long, float→double) decodes through Spark's widening
  * updaters — the tolerant-reader rule, reference
  * src/places/place_index.rs:359-370. Renamed columns are requested under
  * the name this file stores them (FieldIds.storedName).
  */
final class GraftColumnarPartitionReader(p: GraftInputPartition,
                                         required: StructType,
                                         includeTombstones: Boolean,
                                         conf0: Configuration,
                                         eras: Map[String, Seq[String]])
    extends PartitionReader[ColumnarBatch] {

  private val conf = new Configuration(conf0)
  private val reader = Bridge.vectorizedParquetReader(4096)
  private var initialized = false
  private var batch: ColumnarBatch = _

  private val lsnBound = p.lsnLowerExclusive
  private val hasLsnBound = lsnBound != Long.MinValue
  private val repoEq = Option(p.repoEq).map(UTF8String.fromString).orNull
  private val pathEq = Option(p.pathEq).map(UTF8String.fromString).orNull

  /** Columns to decode, in batch order: the projected columns, then the
    * filter-only ones. `_deleted` is always decoded, so even a
    * zero-column projection has a column to count rows by. */
  private val readSchema: StructType = StructType(required.fields ++ Seq(
    Some(StructField(LakeTable.DeletedCol, BooleanType)),
    if (hasLsnBound) Some(StructField("lsn", LongType)) else None,
    Option(repoEq).map(_ => StructField("repo", StringType)),
    Option(pathEq).map(_ => StructField("path", StringType))
  ).flatten.filterNot(f => required.fieldNames.contains(f.name)))

  private def indexOf(name: String, used: Boolean): Int =
    if (used) readSchema.fieldIndex(name) else -1
  private val delIdx = indexOf(LakeTable.DeletedCol, !includeTombstones)
  private val lsnIdx = indexOf("lsn", hasLsnBound)
  private val repoIdx = indexOf("repo", repoEq != null)
  private val pathIdx = indexOf("path", pathEq != null)
  private val residual = delIdx >= 0 || lsnIdx >= 0 || repoIdx >= 0 || pathIdx >= 0

  private def init(): Unit = {
    val path = new Path(p.absPath)
    // the footer decides, per file, the name each column is stored under
    // and which predicates can be pushed; a plain scan of a never-renamed
    // table needs neither and skips it
    val requested =
      if (eras.isEmpty && !hasLsnBound && repoEq == null && pathEq == null) readSchema
      else {
        val fileSchema = GraftColumnarPartitionReader.fileSchemaOf(p.absPath, path, conf)
        val holds: String => Boolean = fileSchema.containsField
        pushedPredicate(holds).foreach(
          org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, _))
        // positional: the decoded vector lands in the requested slot
        // whichever name era the file stores it under
        StructType(readSchema.fields.map(f =>
          f.copy(name = FieldIds.storedName(f.name, eras, holds))))
      }
    Bridge.setRequestedSchema(conf, requested.json)
    // byte-range split (Spark's own parquet split rule): a row group
    // belongs to the split holding its midpoint
    val length =
      if (p.rangeEnd == Long.MaxValue) Long.MaxValue - p.rangeStart
      else p.rangeEnd - p.rangeStart
    // mapred.FileSplit (which extends the mapreduce one): Spark 4's
    // SpecificParquetRecordReaderBase downcasts to the old-API class
    val split = new org.apache.hadoop.mapred.FileSplit(
      path, p.rangeStart, length, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    reader.initialize(split, ctx)
    reader.initBatch(new StructType(),
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(0))
    reader.enableReturningBatches()
    initialized = true
  }

  private def pushedPredicate(holds: String => Boolean): Option[FilterPredicate] =
    Seq(
      if (hasLsnBound && holds("lsn"))
        Some(FilterApi.gt(FilterApi.longColumn("lsn"), java.lang.Long.valueOf(lsnBound)))
      else None,
      Option(p.repoEq).filter(_ => holds("repo"))
        .map(v => FilterApi.eq(FilterApi.binaryColumn("repo"), Binary.fromString(v))),
      Option(p.pathEq).filter(_ => holds("path"))
        .map(v => FilterApi.eq(FilterApi.binaryColumn("path"), Binary.fromString(v)))
    ).flatten.reduceOption[FilterPredicate](FilterApi.and)

  override def next(): Boolean = {
    if (!initialized) init()
    while (reader.nextBatch()) {
      val rb = reader.resultBatch()
      val n = rb.numRows()
      if (n > 0) {
        if (!residual) { batch = project(rb, n); return true }
        val sel = new Array[Int](n)
        var live = 0
        var i = 0
        while (i < n) { if (keep(rb, i)) { sel(live) = i; live += 1 }; i += 1 }
        if (live == n) { batch = project(rb, n); return true }
        if (live > 0) { batch = select(rb, sel, live); return true }
        // nothing selected: read on
      }
    }
    false
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = reader.close()

  private def keep(rb: ColumnarBatch, i: Int): Boolean =
    (delIdx < 0 || { val v = rb.column(delIdx); v.isNullAt(i) || !v.getBoolean(i) }) &&
      (lsnIdx < 0 || { val v = rb.column(lsnIdx); v.isNullAt(i) || v.getLong(i) > lsnBound }) &&
      (repoIdx < 0 || equalsAt(rb.column(repoIdx), i, repoEq)) &&
      (pathIdx < 0 || equalsAt(rb.column(pathIdx), i, pathEq))

  private def equalsAt(v: ColumnVector, i: Int, want: UTF8String): Boolean =
    !v.isNullAt(i) && v.getUTF8String(i) == want

  /** Every row selected: hand the reader's vectors through, projected
    * down to the emitted columns (drops the filter-only ones). */
  private def project(rb: ColumnarBatch, n: Int): ColumnarBatch =
    new ColumnarBatch(Array.tabulate[ColumnVector](required.length)(rb.column), n)

  /** Some rows selected: emit them via a selection map — no data moves. */
  private def select(rb: ColumnarBatch, sel: Array[Int], live: Int): ColumnarBatch = {
    val rows = java.util.Arrays.copyOf(sel, live)
    new ColumnarBatch(Array.tabulate[ColumnVector](required.length)(k =>
      new SelectedColumnVector(rb.column(k), rows)), live)
  }
}

object GraftColumnarPartitionReader {
  /** Per-executor cache of parquet file schemas. Lake data files are
    * IMMUTABLE once published (uuid-named, never rewritten in place), so
    * the path is a sound key. Saves one footer open+parse per SPLIT of a
    * multi-split file and per revisit — streaming CDC consumers re-plan
    * the same files every micro-batch, and object-storage footer reads
    * are a round-trip each. Bounded LRU, access-ordered. */
  private val SchemaCacheMax = 1024
  private val schemaCache =
    new java.util.LinkedHashMap[String, MessageType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, MessageType]): Boolean =
        size() > SchemaCacheMax
    }

  private[dsv2] def fileSchemaOf(key: String, path: Path, conf: Configuration): MessageType = {
    schemaCache.synchronized {
      val hit = schemaCache.get(key)
      if (hit != null) return hit
    }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val s = try r.getFooter.getFileMetaData.getSchema finally r.close()
    schemaCache.synchronized { schemaCache.put(key, s): Unit }
    s
  }
}

/** A ColumnVector view exposing only the rows named by `sel`, in order —
  * row `i` of this vector is row `sel(i)` of `base`. Pure index
  * indirection: no values are copied, the base vector (owned by the
  * parquet reader) stays untouched. */
final class SelectedColumnVector(base: ColumnVector, sel: Array[Int])
    extends ColumnVector(base.dataType) {
  // the underlying reader owns and recycles the base vectors
  override def close(): Unit = ()
  // over-approximation is allowed for hasNull (callers use it as a
  // fast-path hint); numNulls must be exact, so count within the selection
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = {
    var c = 0
    var i = 0
    while (i < sel.length) { if (base.isNullAt(sel(i))) c += 1; i += 1 }
    c
  }
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(i))
  override def getChild(ordinal: Int): ColumnVector =
    new SelectedColumnVector(base.getChild(ordinal), sel)
}
