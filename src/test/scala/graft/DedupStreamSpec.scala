package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{DedupStream, EventStreams}

class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  case class Doc(doc_id: Long, ts: Timestamp, text: String)
  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")

  test("streaming exact dedup drops repeats within and across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = EventStreams.toMemorySink(
      DedupStream.dropExactDuplicates(in.toDF()), "dedup_test", OutputMode.Append())
    try {
      in.addData(
        Doc(0, ts(1), "alpha beta gamma"),
        Doc(1, ts(2), "alpha beta gamma"), // dup within trigger
        Doc(2, ts(3), "different text"))
      q.processAllAvailable()
      in.addData(Doc(3, ts(4), "alpha beta gamma")) // dup across triggers
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(0L, 2L))
    } finally q.stop()
  }

  test("streaming exact dedup keeps every NULL-text doc") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = EventStreams.toMemorySink(
      DedupStream.dropExactDuplicates(in.toDF()), "dedup_null_test", OutputMode.Append())
    try {
      // a NULL text has no content, so two of them are not duplicates;
      // the repeated text still collapses to its first copy
      in.addData(Doc(0, ts(1), null), Doc(1, ts(2), null),
        Doc(2, ts(3), "alpha beta"), Doc(3, ts(4), "alpha beta"))
      q.processAllAvailable()
      in.addData(Doc(4, ts(5), null))
      q.processAllAvailable()
      val ids = spark.table("dedup_null_test").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(0L, 1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming band emission matches the batch band table") {
    implicit val sqlCtx = spark.sqlContext
    val body = (1 to 30).map(i => "w" + ('a' + i % 26).toChar).mkString(" ")
    val in = MemoryStream[Doc]
    val q = EventStreams.toMemorySink(
      DedupStream.bandStream(in.toDF()), "bands_test", OutputMode.Append())
    try {
      in.addData(Doc(0, ts(1), body))
      q.processAllAvailable()
      val streamed = spark.table("bands_test")
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).sorted.toSeq
      val batch = graft.operators.Dedup.candidateBands(
        graft.operators.Dedup.shingled(Seq((0L, body)).toDF("doc_id", "text")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-static near-dup rerank flags docs similar to the corpus") {
    implicit val sqlCtx = spark.sqlContext
    val shared = (1 to 40).map(i => "tok" + ('a' + i % 26).toChar + (i % 7)).mkString(" ")
    val corpus = Seq((100L, shared), (101L, "entirely different content " +
      (1 to 40).map(i => "zz" + i).mkString(" "))).toDF("doc_id", "text")
    val corpusHashed = graft.operators.Dedup.shingled(corpus).localCheckpoint()
    val in = MemoryStream[Doc]
    val q = EventStreams.toMemorySink(
      DedupStream.nearDupAgainstCorpus(in.toDF(), corpusHashed, threshold = 0.5),
      "rerank_test", OutputMode.Append())
    try {
      // doc 7 repeats the shared corpus text (near-dup of 100, not 101);
      // doc 8 is novel
      in.addData(Doc(7, ts(1), shared), Doc(8, ts(2), "totally novel words here " +
        (1 to 40).map(i => "qq" + i).mkString(" ")))
      q.processAllAvailable()
      val pairs = spark.table("rerank_test").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).distinct.toSeq
      assert(pairs.map(p => (p._1, p._2)) == Seq((7L, 100L)))
      assert(pairs.head._3 == 1.0) // identical text -> Jaccard 1
    } finally q.stop()
  }

  test("in-stream near-dup pairs duplicates arriving in the SAME stream") {
    implicit val sqlCtx = spark.sqlContext
    val body = (1 to 40).map(i => "tok" + ('a' + i % 26).toChar + (i % 7)).mkString(" ")
    val other = "entirely different content " + (1 to 40).map(i => "zz" + i).mkString(" ")
    val in = MemoryStream[Doc]
    val q = EventStreams.toMemorySink(
      DedupStream.inStreamNearDups(in.toDF(), maxPerBucket = 8),
      "instream_test", OutputMode.Append())
    try {
      // duplicate split ACROSS triggers: the pair must come from state,
      // not from within-batch co-grouping alone
      in.addData(Doc(0, ts(1), body), Doc(2, ts(2), other))
      q.processAllAvailable()
      in.addData(Doc(1, ts(3), body))
      q.processAllAvailable()
      val pairs = spark.table("instream_test").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toSeq
      // identical text -> identical signatures -> every band matches;
      // the unrelated doc never pairs
      assert(pairs.map(_._1).distinct == Seq((0L, 1L)), pairs.mkString(";"))
      assert(pairs.length == graft.operators.Dedup.Bands)
      assert(pairs.forall(_._2 == 1.0))
    } finally q.stop()
  }

  test("in-stream near-dup bucket state is capped: oldest entries evict") {
    implicit val sqlCtx = spark.sqlContext
    val body = (1 to 40).map(i => "cap" + ('a' + i % 26).toChar + (i % 5)).mkString(" ")
    val in = MemoryStream[Doc]
    // cap 1: each bucket holds only the newest doc, so doc 2 pairs with
    // doc 1 but no (0,2) pair can emit — eviction is observable
    val q = EventStreams.toMemorySink(
      DedupStream.inStreamNearDups(in.toDF(), maxPerBucket = 1),
      "instream_cap_test", OutputMode.Append())
    try {
      in.addData(Doc(0, ts(1), body))
      q.processAllAvailable()
      in.addData(Doc(1, ts(2), body))
      q.processAllAvailable()
      in.addData(Doc(2, ts(3), body))
      q.processAllAvailable()
      val got = spark.table("instream_cap_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
      assert(got == Seq((0L, 1L), (1L, 2L)), got.mkString(";"))
    } finally q.stop()
  }

  test("in-stream near-dup state dedupes redeliveries: one entry per doc_id") {
    implicit val sqlCtx = spark.sqlContext
    val body = (1 to 40).map(i => "rd" + ('a' + i % 26).toChar + (i % 6)).mkString(" ")
    val in = MemoryStream[Doc]
    // cap 2: if the redelivered doc duplicated its entry, doc 0's two
    // copies would fill the bucket; the dup then pairs exactly once per
    // band either way, but the pair multiset distinguishes the cases
    val q = EventStreams.toMemorySink(
      DedupStream.inStreamNearDups(in.toDF(), maxPerBucket = 2),
      "instream_redeliver_test", OutputMode.Append())
    try {
      in.addData(Doc(0, ts(1), body))
      q.processAllAvailable()
      in.addData(Doc(0, ts(2), body)) // at-least-once redelivery
      q.processAllAvailable()
      in.addData(Doc(1, ts(3), body))
      q.processAllAvailable()
      val pairs = spark.table("instream_redeliver_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // a duplicated entry would emit (0,1) TWICE per band
      assert(pairs.distinct.toSeq == Seq((0L, 1L)), pairs.mkString(";"))
      assert(pairs.length == graft.operators.Dedup.Bands, pairs.length)
    } finally q.stop()
  }

  test("streaming contamination screen flags eval overlap, passes clean docs") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextOps
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // eval set = one doc; its shingle hashes build the bloom
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    val evalHashes = Seq(evalText).toDF("text")
      .select(explode(TextOps.shingleHashes(
        TextOps.shingles(TextOps.tokens(col("text")), Dedup.ShingleN))).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val bits = Dedup.bloomBits(evalHashes)
    val in = MemoryStream[Doc]
    val q = EventStreams.toMemorySink(
      DedupStream.contaminationScreen(in.toDF(), bits),
      "contam_test", OutputMode.Append())
    try {
      in.addData(
        // shares the eval 5-gram run -> must flag (no false negatives)
        Doc(0, ts(1), "prefix words alpha beta gamma delta epsilon zeta suffix"),
        // disjoint vocabulary -> should pass clean
        Doc(1, ts(2), "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      val flags = spark.table("contam_test").collect()
        .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("maybe_contaminated")))
        .toMap
      assert(flags(0L), "doc sharing an eval shingle must be flagged")
      assert(!flags(1L), "disjoint doc should pass the screen")
    } finally q.stop()
  }
}
