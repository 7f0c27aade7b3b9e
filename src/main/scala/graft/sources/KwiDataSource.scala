package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 read AND write paths for the `.kwi` format:
  * `spark.read.format("kwi").load(pathOrDir)` /
  * `df.write.format("kwi").mode("append"|"overwrite").save(dir)`.
  *
  * Read scale shape: one input partition per `.kwi` file — a directory
  * of exported shards reads fully parallel — and required-column
  * pushdown so `select(id)` never materializes embedding arrays into
  * rows (the bytes are still streamed past, which is inherent to a
  * length-prefixed record format, but per-row allocation goes away).
  *
  * Write scale shape: each task streams its partition into its own
  * shard file (`part-&lt;job&gt;-&lt;partition&gt;.kwi`), honoring the format's
  * single-writer-per-file discipline (the reference appends through
  * one handle, vector_db/src/binary_index.rs:103-146) while the JOB
  * stays fully parallel — a directory of shards is this format's
  * multi-writer story, and the read path already treats it as one
  * table. Tasks write to `.tmp` names and the driver-side commit
  * renames the cleanly-closed shards in (deleting every pre-existing
  * `.kwi` first under `overwrite`), so concurrent readers never see a
  * torn shard. Per-shard headers carry their own live counts, so
  * tombstone/optimize keep working per shard. The single-FILE artifact
  * (`KwiFormat.write`) remains the interchange export; parquet is the
  * scale store.
  */
class KwiDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kwi"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KwiDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KwiTable(properties.get("path"))
}

object KwiDataSource {
  /** Nullable-friendly on purpose: the WRITE path must accept columns
    * arriving from parquet (nullable id, containsNull arrays — Spark's
    * v2 append rejects writing a nullable column into a required one
    * at ANALYSIS time, before any data is seen). Per-record null
    * checks happen at write time instead; the read path never emits
    * null id/embedding regardless. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("metadata", StringType, nullable = true)))

  /** A path is one `.kwi` file or a directory of them (sorted for
    * deterministic partition order). */
  def filesOf(path: String): Seq[String] = {
    require(path != null, "kwi source requires a load path")
    val p = Paths.get(path)
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".kwi")) buf += f.toString
        }
        buf.sorted.toSeq
      } finally s.close()
    } else Seq(path)
  }
}

class KwiTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"kwi:$path"
  override def schema(): StructType = KwiDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(options.get("snapshot") == null || options.get("snapshotDiff") == null,
      "kwi read takes snapshot OR snapshotDiff, not both")
    new KwiScanBuilder(path, Option(options.get("snapshot")),
      Option(options.get("snapshotDiff")))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KwiWriteBuilder(path, info)
}

/** Append by default; `overwrite` arrives as truncate() (TRUNCATE
  * capability), which the commit honors by deleting every pre-existing
  * `.kwi` in the target directory before renaming the new shards in. */
class KwiWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncating = false
  override def truncate(): WriteBuilder = { truncating = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new KwiBatchWrite(path, info.schema(),
      truncating, info.options().getBoolean("retain", false))
  }
}

case class KwiCommitMessage(tmpPath: String, finalPath: String)
  extends WriterCommitMessage

class KwiBatchWrite(path: String, schema: StructType, truncate: Boolean,
    retain: Boolean = false) extends BatchWrite {
  // fail fast on a shape the record format cannot hold
  KwiBatchWrite.validate(schema)
  // job-unique shard prefix: an `append` must not collide with shards
  // from earlier writes already in the directory
  private val jobId = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KwiWriterFactory(path, schema, jobId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    // truncate + retain = archive mode: replaced shards stay on disk
    // for snapshot reads (they drop out of the NEW manifest below);
    // plain truncate keeps the original space-reclaiming semantics
    if (truncate && !retain)
      KwiDataSource.filesOf(path).foreach(f => Files.deleteIfExists(Paths.get(f)))
    Files.createDirectories(dir)
    val added = messages.collect {
      case KwiCommitMessage(tmp, fin) if tmp.nonEmpty =>
        Files.move(Paths.get(tmp), Paths.get(fin), StandardCopyOption.REPLACE_EXISTING)
        Paths.get(fin).getFileName.toString
    }
    // record this commit's live set as the next snapshot version
    KwiSnapshots.commit(path, truncate, added.toSeq)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case KwiCommitMessage(tmp, _) if tmp.nonEmpty =>
        Files.deleteIfExists(Paths.get(tmp))
      case _ => ()
    }
}

object KwiBatchWrite {
  private[sources] def validate(schema: StructType): Unit = {
    def has(name: String, t: DataType): Boolean =
      schema.fields.exists(f => f.name == name && (f.dataType match {
        // nullability-insensitive compare (sameType is Spark-private)
        case ArrayType(et, _) => t.isInstanceOf[ArrayType] &&
          et == t.asInstanceOf[ArrayType].elementType
        case dt => dt == t
      }))
    require(has("id", StringType) && has("embedding", ArrayType(FloatType)),
      s"kwi write needs (id STRING, embedding ARRAY<FLOAT>[, metadata STRING]); got ${schema.simpleString}")
    val extra = schema.fieldNames.toSet -- Set("id", "embedding", "metadata")
    require(extra.isEmpty, s"kwi write cannot store columns $extra")
    schema.fields.find(_.name == "metadata").foreach(f =>
      require(f.dataType == StringType, "metadata must be STRING"))
  }
}

class KwiWriterFactory(path: String, schema: StructType, jobId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val fin = Paths.get(path, f"part-$jobId-$partitionId%05d.kwi")
    // attempt-unique tmp name: speculative retries of the same
    // partition must not clobber each other mid-stream
    val tmp = Paths.get(path, f"part-$jobId-$partitionId%05d-$taskId.kwi.tmp")
    val idIdx = schema.fieldIndex("id")
    val embIdx = schema.fieldIndex("embedding")
    val metaIdx = if (schema.fieldNames.contains("metadata"))
      schema.fieldIndex("metadata") else -1
    new DataWriter[InternalRow] {
      private val w = new graft.sources.KwiFormat.ShardWriter(tmp)
      override def write(row: InternalRow): Unit = {
        require(!row.isNullAt(idIdx) && !row.isNullAt(embIdx),
          "kwi records need non-null id and embedding")
        val meta =
          if (metaIdx >= 0 && !row.isNullAt(metaIdx))
            Some(row.getUTF8String(metaIdx).toString)
          else None
        w.write(row.getUTF8String(idIdx).toString,
          row.getArray(embIdx).toFloatArray().toSeq, meta)
      }
      override def commit(): WriterCommitMessage = {
        val n = w.count
        w.close()
        if (n == 0L) {
          // don't litter the directory with header-only shards for
          // empty partitions (common after filters / coalesce)
          Files.deleteIfExists(tmp)
          KwiCommitMessage("", "")
        } else KwiCommitMessage(tmp.toString, fin.toString)
      }
      override def abort(): Unit = {
        try w.close() catch { case _: Exception => () }
        Files.deleteIfExists(tmp)
      }
      override def close(): Unit = ()
    }
  }
}

/** Filter pushdown accepts id-equality shapes (`id = lit`,
  * `id IN (...)`, conjunctions thereof) and routes them through the
  * offset-table point-read path (`KwiFormat.IndexedReader`) — the
  * reference's O(1) lookup (vector_db/src/binary_index.rs:148-160)
  * surfaced to SQL. Each shard then does one cheap offset-scan (the
  * embedding/metadata bytes are SKIPPED, never deserialized) plus
  * O(matches) seek-reads, instead of materializing every record; only
  * the shard holding the id does real record reads. Semantics are
  * EXACTLY the full scan's: `getAll` replays every live occurrence of
  * an id, so duplicate live ids keep their row counts. */
class KwiScanBuilder(path: String, snapshot: Option[String] = None,
    snapshotDiff: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}
  private var required: StructType = KwiDataSource.schema
  private var accepted: Array[Filter] = Array.empty
  private var ids: Option[Seq[String]] = None
  private var countPushed = false

  /** COUNT(*) answers from the kwi HEADER's live-record count — the
    * reference's O(1) `get_vector_count` stat (local_storage.rs:350-361)
    * surfaced through DSv2 aggregate pushdown: each shard contributes
    * one header read, zero record bytes touched. Tombstone-exact on any
    * cleanly-committed store: the header decrements on tombstone append
    * exactly as the record stream drops dead occurrences, and the DSv2
    * write commit only ever renames shards whose header was patched at
    * close. (A shard TORN mid-write outside that protocol can carry a
    * stale header while the record stream serves its intact prefix —
    * the same trust model as parquet footer row counts, which aggregate
    * pushdown also reads.) Partial pushdown only (Spark sums the
    * per-shard rows); never combined with pushed id filters (point
    * reads change the row set the header cannot see). */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    false
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = ids.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) countPushed = true
    ok
  }
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Pushdown contract: `id = literal` and `id IN (literal, …)` are
    * accepted and answered entirely by offset-table point reads (the
    * IN list must already be literal values — Spark only ever offers
    * subquery-free, folded lists here; an IN over a subquery plans as
    * a join and never reaches pushFilters). EVERYTHING else is
    * declined back to Spark by returning it in the residual: non-id
    * columns (no index), ranges/prefixes (the offset table is an
    * exact-match hash, not ordered), IsNotNull (vacuous on the
    * non-null id), and any non-String id literal (schema says the
    * comparison can't match, but that's Spark's call to make). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition {
      case EqualTo("id", _: String) => true
      case In("id", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    if (ok.nonEmpty) {
      accepted = ok
      // the filter array is a CONJUNCTION: the candidate id set is the
      // intersection of every accepted filter's id set
      val sets = ok.map {
        case EqualTo(_, v: String) => Set(v)
        case In(_, vs) => vs.map(_.asInstanceOf[String]).toSet
        case f => throw new IllegalStateException(s"unaccepted filter $f")
      }
      ids = Some(sets.reduce(_ intersect _).toSeq.sorted)
    }
    rest // accepted shapes are fully answered by the point reads
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def build(): Scan =
    new KwiScan(path, required, ids, countPushed, snapshot, snapshotDiff)
}

class KwiScan(path: String, required: StructType,
    pushedIds: Option[Seq[String]] = None,
    pushedCount: Boolean = false,
    snapshot: Option[String] = None,
    snapshotDiff: Option[String] = None) extends Scan with Batch {
  override def readSchema(): StructType =
    if (pushedCount)
      StructType(Seq(StructField("count(*)",
        org.apache.spark.sql.types.LongType, nullable = false)))
    else required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    // snapshot option → manifest-resolved file set (time travel);
    // snapshotDiff → only shards added between two versions
    // (incremental consumption); default → directory listing
    // (unchanged semantics)
    val files = (snapshot, snapshotDiff) match {
      case (Some(v), _) => KwiSnapshots.resolve(path, v)
      case (_, Some(r)) => KwiSnapshots.resolveDiff(path, r)
      case _ => KwiDataSource.filesOf(path)
    }
    files.map(f => KwiInputPartition(f): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KwiReaderFactory(required, pushedIds, pushedCount)
  // surfaces in .explain so tests/users can see the point-read route
  override def description(): String =
    s"kwi:$path${snapshot.map(v => s" Snapshot: $v").getOrElse("")}${snapshotDiff.map(r => s" SnapshotDiff: $r").getOrElse("")}${pushedIds.map(ids => s" PushedIds: ${ids.mkString("[", ",", "]")}").getOrElse("")}${if (pushedCount) " PushedAggregates: [COUNT(*)]" else ""}"
}

case class KwiInputPartition(file: String) extends InputPartition

class KwiReaderFactory(required: StructType,
    pushedIds: Option[Seq[String]] = None,
    pushedCount: Boolean = false) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[KwiInputPartition].file
    if (pushedCount) return new PartitionReader[InternalRow] {
      // one header read per shard — no record bytes touched
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = InternalRow(KwiFormat.count(file))
      override def close(): Unit = ()
    }
    def toRow(cur: (String, Array[Float], Option[String])): InternalRow =
      InternalRow.fromSeq(required.fields.toSeq.map(_.name match {
        case "id" => UTF8String.fromString(cur._1)
        case "embedding" => ArrayData.toArrayData(cur._2)
        case "metadata" => cur._3.map(UTF8String.fromString).orNull
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }))
    pushedIds match {
      case Some(ids) => new PartitionReader[InternalRow] {
        private val rdr = new KwiFormat.IndexedReader(file)
        private val it = ids.iterator.flatMap(rdr.getAll)
        private var cur: (String, Array[Float], Option[String]) = _
        override def next(): Boolean =
          if (it.hasNext) { cur = it.next(); true } else false
        override def get(): InternalRow = toRow(cur)
        override def close(): Unit = rdr.close()
      }
      case None => new PartitionReader[InternalRow] {
        // column pruning reaches the byte level: an embedding-free
        // projection byte-skips every record's dim·4 payload, a
        // metadata-free one skips the metadata bytes
        private val it = new KwiFormat.RecordIterator(Paths.get(file),
          needEmbedding = required.fieldNames.contains("embedding"),
          needMetadata = required.fieldNames.contains("metadata"))
        private var cur: (String, Array[Float], Option[String]) = _
        override def next(): Boolean =
          if (it.hasNext) { cur = it.next(); true } else false
        override def get(): InternalRow = toRow(cur)
        // release the underlying file handle even when the scan
        // terminates early (limit pushdown, task cancellation)
        override def close(): Unit = it.close()
      }
    }
  }
}
