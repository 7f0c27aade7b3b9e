package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, FileInputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}

/** Reader/writer for the reference's `.kwi` single-file vector format.
  *
  * The reference ships two incompatible `.kwi` layouts whose read paths
  * are both broken (header-size vs skip mismatch,
  * vector_db/src/local_storage.rs:74-81 vs :221; entry-table overwrite
  * at offset 32, vector_db/src/binary_index.rs:227-234; short bincode
  * reads, :160-165). Per SURVEY.md §7.5.3 we implement the evident spec
  * — LocalStorage's length-prefixed record stream — with one consistent
  * layout:
  *
  *   header (20 bytes LE): magic "KWI\0" | version u32 = 1 | count u64 |
  *                          reserved u32
  *   record:   id_len u32 | id UTF-8 bytes | data_len u32 (#floats) |
  *             data_len × f32 LE | metadata_len u32 | metadata UTF-8 JSON
  *             (metadata_len = 0 ⇒ no metadata)
  *
  * A `.kwi` file is single-file by design (it is the reference's
  * interchange artifact, not our scale path — parquet is). Write runs on
  * the driver via `toLocalIterator` (constant memory); reads go through
  * the `kwi` data source (`spark.read.format("kwi").load(path)`), whose
  * scan is a [[RecordIterator]]. One function, `readRecord`, decodes a
  * record and one, `writeRecordBytes`, encodes it (tombstones too).
  *
  * Deletes follow `BinaryIndex`'s tombstone + compaction split
  * (binary_index.rs:197-212 delete drops only the entry-table row, the
  * data bytes stay; :239-257 `optimize` rewrites compacted via temp +
  * rename): `appendTombstone` appends a marker record (`data_len` slot
  * = -1, no payload) and decrements the header's LIVE count;
  * `optimize` streams the survivors into a fresh file and atomically
  * swaps it in. Readers honor tombstones with two streaming passes —
  * a cheap marker scan (memory O(#tombstoned ids), the analogue of the
  * reference's in-memory entry table) and then the record stream with
  * the dead occurrences dropped. `LocalStorage::delete_vector`'s
  * immediate compacting rewrite (local_storage.rs:363-375) is exactly
  * `appendTombstone` + `optimize` back to back. The tombstone +
  * deferred-compaction split is also the pattern a big parquet
  * pipeline uses (delete markers + a compaction job), so the `.kwi`
  * semantics and the scale path agree.
  */
object KwiFormat {
  val Magic: Array[Byte] = Array('K'.toByte, 'W'.toByte, 'I'.toByte, 0.toByte)
  val Version = 1
  val HeaderSize = 20
  /** Sentinel in the data_len slot marking a tombstone record. */
  val TombstoneLen: Int = -1

  /** Write rows (id STRING, embedding ARRAY&lt;FLOAT&gt;, metadata STRING?) to
    * `path`. Returns the record count. */
  def write(df: DataFrame, path: String): Long = {
    val tmp = Paths.get(path + ".tmp")
    Files.createDirectories(tmp.toAbsolutePath.getParent)
    val hasMeta = df.columns.contains("metadata")
    val cols = if (hasMeta) df.select("id", "embedding", "metadata")
               else df.select("id", "embedding")
    val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile))
    var count = 0L
    try {
      out.write(header(0L)) // placeholder count, patched below
      val it = cols.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        writeRecord(out, r, hasMeta)
        count += 1
      }
    } finally out.close()
    patchCount(tmp, count)
    Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    count
  }

  /** Append records to an existing file and bump the header's live
    * count — `LocalStorage::add_vector` semantics, batched
    * (local_storage.rs:103-124: append + header count bump). Returns
    * the number appended. */
  def append(df: DataFrame, path: String): Long = {
    val p = Paths.get(path)
    val hasMeta = df.columns.contains("metadata")
    val cols = if (hasMeta) df.select("id", "embedding", "metadata")
               else df.select("id", "embedding")
    val out = new BufferedOutputStream(new FileOutputStream(p.toFile, true))
    var n = 0L
    try {
      val it = cols.toLocalIterator()
      while (it.hasNext) { writeRecord(out, it.next(), hasMeta); n += 1 }
    } finally out.close()
    patchCount(p, count(path) + n)
    n
  }

  /** Tombstone-delete (binary_index.rs:197-212): append a marker record
    * and decrement the header's live count. The record's data bytes
    * remain in the file until `optimize`. Strict contract: throws
    * IllegalArgumentException when the id is not live (the reference's
    * delete errors on an entry-table miss). */
  def appendTombstone(path: String, id: String): Unit = {
    val p = Paths.get(path)
    val live = {
      val it = new RecordIterator(p)
      try it.exists(_._1 == id) finally it.close()
    }
    require(live, s"no live record with id $id in $path")
    val out = new FileOutputStream(p.toFile, true)
    try writeRecordBytes(out, id.getBytes("UTF-8"), null, Array.emptyByteArray)
    finally out.close()
    patchCount(p, count(path) - 1)
  }

  /** Compaction (binary_index.rs:239-257 `optimize`): stream the live
    * records into a fresh file — tombstones and their dead data bytes
    * drop out — then atomically swap it in. Returns the live count. */
  def optimize(path: String): Long = {
    val p = Paths.get(path)
    val tmp = Paths.get(path + ".compact.tmp")
    val it = new RecordIterator(p)
    val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile))
    var n = 0L
    try {
      out.write(header(0L))
      while (it.hasNext) {
        val (id, data, meta) = it.next()
        writeRecordBytes(out, id.getBytes("UTF-8"), data,
          meta.map(_.getBytes("UTF-8")).getOrElse(Array.emptyByteArray))
        n += 1
      }
    } finally { out.close(); it.close() }
    patchCount(tmp, n)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
    n
  }

  /** Header-declared LIVE record count without scanning the body
    * (local_storage.rs:350-361 `get_vector_count`; tombstone-deletes
    * decrement it the way the reference's entry-table count shrinks). */
  def count(path: String): Long = {
    val bytes = readN(Paths.get(path), HeaderSize)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    require(magic.sameElements(Magic), s"bad magic in $path")
    require(bb.getInt() == Version, s"bad version in $path")
    bb.getLong()
  }

  /** Streaming record writer for ONE `.kwi` shard — the executor-side
    * unit of the DSv2 write path (each write task owns one shard file,
    * mirroring the reference's one-writer-per-file append discipline,
    * vector_db/src/binary_index.rs:103-146). Records stream through a
    * buffered sink; `close()` patches the header's live count, so a
    * half-written shard is recognizable (count 0 + torn tail) and the
    * commit protocol only renames shards that closed cleanly. */
  final class ShardWriter(path: Path) extends AutoCloseable {
    Files.createDirectories(path.toAbsolutePath.getParent)
    private val out = new BufferedOutputStream(new FileOutputStream(path.toFile))
    out.write(header(0L))
    private var n = 0L
    def write(id: String, vec: Seq[Float], meta: Option[String]): Unit = {
      writeRecordBytes(out, id.getBytes("UTF-8"), vec,
        meta.map(_.getBytes("UTF-8")).getOrElse(Array.emptyByteArray))
      n += 1
    }
    def count: Long = n
    def close(): Unit = {
      out.close()
      patchCount(path, n)
    }
  }

  // --- internals ---

  private def header(count: Long): Array[Byte] = {
    val bb = ByteBuffer.allocate(HeaderSize).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic).putInt(Version).putLong(count).putInt(0)
    bb.array()
  }

  private def patchCount(p: Path, count: Long): Unit = {
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      bb.putLong(count).flip()
      ch.write(bb, 8) // count sits after magic(4) + version(4)
    } finally ch.close()
  }

  private def writeRecord(out: java.io.OutputStream, r: Row, hasMeta: Boolean): Unit =
    writeRecordBytes(out, r.getString(0).getBytes("UTF-8"), r.getSeq[Float](1),
      if (hasMeta && !r.isNullAt(2)) r.getString(2).getBytes("UTF-8")
      else Array.emptyByteArray)

  /** Encode one record; `vec == null` encodes a tombstone marker
    * (`data_len` = [[TombstoneLen]], nothing after it). */
  private def writeRecordBytes(out: java.io.OutputStream, id: Array[Byte],
      vec: Seq[Float], meta: Array[Byte]): Unit = {
    val body = if (vec == null) 0 else vec.length * 4 + 4 + meta.length
    val bb = ByteBuffer.allocate(4 + id.length + 4 + body)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(id.length).put(id)
    if (vec == null) bb.putInt(TombstoneLen)
    else {
      bb.putInt(vec.length)
      vec.foreach(bb.putFloat)
      bb.putInt(meta.length).put(meta)
    }
    out.write(bb.array())
  }

  /** One physical record, which spans bytes [`offset`, `end`) of its
    * file; `data == null` marks a tombstone. */
  private final case class Raw(id: String, data: Array[Float], meta: Option[String],
      offset: Long, end: Long) {
    def tombstone: Boolean = data == null
  }

  /** Non-null stand-in for a byte-skipped float payload. */
  private val SkippedFloats = Array.empty[Float]

  /** Diagnostic counter: how many records had their float payload
    * actually DECODED (not byte-skipped). Only ever incremented in
    * readRecord's decode branch, so a column-pruned scan that claims
    * to skip embedding bytes can be held to it in tests
    * (KwiDataSourceSpec) — the counter not moving IS the proof that
    * id-only projections never touch float bytes. Process-global and
    * monotone; tests compare deltas. */
  private[graft] val floatDecodes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Decode the record that starts at byte `offset`, the stream's
    * position: null at a clean end of file, and a record cut short
    * throws `EOFException`. With `decodeFloats = false` the dim·4
    * payload bytes are SKIPPED, not parsed (`data` comes back as a
    * shared empty array, still non-null so tombstone detection is
    * unaffected); `decodeMeta = false` skips the metadata bytes the
    * same way — the read paths for column-pruned scans, the tombstone
    * pre-scan and the offset table. */
  private def readRecord(in: DataInputStream, offset: Long, decodeFloats: Boolean,
      decodeMeta: Boolean): Raw = {
    val first = in.read()
    if (first < 0) return null
    val rest = new Array[Byte](3)
    in.readFully(rest)
    val idLen = ByteBuffer.wrap(Array(first.toByte) ++ rest)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    val idBytes = new Array[Byte](idLen)
    in.readFully(idBytes)
    val id = new String(idBytes, "UTF-8")
    val dim = readIntLE(in)
    val head = offset + 4L + idLen + 4L
    if (dim == TombstoneLen) Raw(id, null, None, offset, head)
    else {
      val data = if (decodeFloats) {
        floatDecodes.incrementAndGet()
        val d = new Array[Float](dim)
        val buf = new Array[Byte](dim * 4)
        in.readFully(buf)
        val fb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < dim) { d(i) = fb.getFloat(); i += 1 }
        d
      } else { in.skipNBytes(dim.toLong * 4); SkippedFloats }
      val metaLen = readIntLE(in)
      val meta = if (decodeMeta) {
        val metaBytes = new Array[Byte](metaLen)
        in.readFully(metaBytes)
        if (metaBytes.isEmpty) None else Some(new String(metaBytes, "UTF-8"))
      } else { in.skipNBytes(metaLen.toLong); None }
      Raw(id, data, meta, offset, head + dim * 4L + 4L + metaLen)
    }
  }

  /** EOF-driven iterator over physical records incl. tombstone markers,
    * each decoded by [[readRecord]]. Callers that stop early must
    * close() or the handle leaks. */
  private final class RawIterator(p: Path, decodeFloats: Boolean = true,
      decodeMeta: Boolean = true)
      extends Iterator[Raw] with AutoCloseable {
    private val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(p.toFile)))
    in.skipNBytes(HeaderSize)
    private var pos = HeaderSize.toLong
    private var closed = false
    private var pending: Raw = _
    def close(): Unit = if (!closed) { closed = true; in.close() }
    private def readOne(): Raw = {
      val r = if (closed) null else try readRecord(in, pos, decodeFloats, decodeMeta) catch {
        // a torn trailing record (crash mid-append — append() writes in
        // place, unlike write()/optimize()'s temp+rename) must not make
        // the whole file unreadable: serve the intact prefix and stop,
        // exactly what the old header-count-bounded reader did. Loud,
        // not silent: the drop is logged so a reader racing an
        // in-progress append (or real corruption) is visible in logs
        // rather than just a smaller result set.
        case _: EOFException =>
          System.err.println(
            s"[kwi] WARN truncated trailing record in $p — serving the intact prefix")
          null
      }
      if (r == null) close() else pos = r.end
      r
    }
    def hasNext: Boolean = {
      if (pending == null && !closed) pending = readOne()
      pending != null
    }
    def next(): Raw = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending; pending = null; r
    }
  }

  /** Closeable LIVE-record iterator: pass 1 scans the tombstone markers
    * (memory O(#tombstoned ids) — the analogue of the reference's
    * in-memory entry table, binary_index.rs:14-26), pass 2 streams the
    * records with each id's first `tombstones(id)` occurrences dropped
    * (a marker always follows the occurrence it kills, so the oldest
    * occurrences are exactly the dead ones). This is the one tombstone
    * replay: the `kwi` scan and [[IndexedReader]]'s offset table both
    * read it. Column-pruned: with `needEmbedding` or `needMetadata`
    * false those byte ranges are skipped, never decoded — an id-only
    * SQL projection over a kwi store reads only ids and length words
    * (float skipping asserted via `floatDecodes` in KwiDataSourceSpec).
    * Callers that stop early (limit pushdown, task kill) must call
    * `close()` or the file handle leaks — the DSv2 PartitionReader
    * wires this into its own close(). */
  final class RecordIterator(p: Path, needEmbedding: Boolean = true,
      needMetadata: Boolean = true)
      extends Iterator[(String, Array[Float], Option[String])]
      with AutoCloseable {
    private val tombs = scala.collection.mutable.Map.empty[String, Int]
    locally {
      // tombstone pre-scan never needs payload or metadata: skip both
      val scan = new RawIterator(p, decodeFloats = false, decodeMeta = false)
      try scan.foreach(r =>
        if (r.tombstone) tombs(r.id) = tombs.getOrElse(r.id, 0) + 1)
      finally scan.close()
    }
    private val raw = new RawIterator(p, decodeFloats = needEmbedding,
      decodeMeta = needMetadata)
    private var pending: Raw = _
    private var last: Raw = _
    def close(): Unit = raw.close()
    /** Byte offset of the record `next` returned last. */
    def offset: Long = last.offset
    private def advance(): Unit =
      while (pending == null && raw.hasNext) {
        val r = raw.next()
        if (!r.tombstone) {
          val dead = tombs.getOrElse(r.id, 0)
          if (dead > 0) tombs(r.id) = dead - 1
          else pending = r
        }
      }
    def hasNext: Boolean = { advance(); pending != null }
    def next(): (String, Array[Float], Option[String]) = {
      if (!hasNext) throw new NoSuchElementException
      last = pending; pending = null
      (last.id, last.data, last.meta)
    }
  }

  /** Random-access point reads via an in-memory offset table — the
    * reference's `BinaryIndex` read path (binary_index.rs:14-26 entry
    * table, :148-160 seek+read). The table is the live-record stream of
    * a [[RecordIterator]] with payloads and metadata skipped, grouped
    * by id: its offsets, oldest first. Point reads and scans therefore
    * can never disagree, by construction (one replay, one torn-tail
    * rule); `get` then seeks straight to the latest live record. O(1)
    * per lookup after O(n) open, vs O(n) per lookup for a scan — the
    * same trade the reference makes, and the single-process analogue
    * of a parquet point read with pushdown. */
  final class IndexedReader(path: String) extends AutoCloseable {
    private val p = Paths.get(path)
    private val offsets: Map[String, Seq[Long]] = {
      val it = new RecordIterator(p, needEmbedding = false, needMetadata = false)
      try it.map(r => r._1 -> it.offset).toSeq.groupMap(_._1)(_._2)
      finally it.close()
    }
    private val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.READ)

    def liveCount: Int = offsets.valuesIterator.map(_.size).sum

    /** Seek-read the LATEST live record for an id; None when the id is
      * absent or dead. */
    def get(id: String): Option[(String, Array[Float], Option[String])] =
      offsets.get(id).map(_.last).map(readAt)

    /** EVERY live record for an id, oldest first — the exact multiset
      * a full scan + id filter emits, so the DSv2 filter-pushdown path
      * can never change row counts when duplicate live ids exist. */
    def getAll(id: String): Seq[(String, Array[Float], Option[String])] =
      offsets.get(id).getOrElse(Seq.empty).map(readAt)

    private def readAt(off: Long): (String, Array[Float], Option[String]) = {
      ch.position(off)
      // do NOT close the stream — it would close the shared channel
      val r = readRecord(new DataInputStream(new BufferedInputStream(
        java.nio.channels.Channels.newInputStream(ch))), off, decodeFloats = true, decodeMeta = true)
      (r.id, r.data, r.meta)
    }

    def close(): Unit = ch.close()
  }

  private def readIntLE(in: DataInputStream): Int = {
    val b = new Array[Byte](4)
    in.readFully(b)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt
  }

  private def readN(p: Path, n: Int): Array[Byte] = {
    val in = new FileInputStream(p.toFile)
    try { val b = new Array[Byte](n); new DataInputStream(in).readFully(b); b }
    finally in.close()
  }
}
