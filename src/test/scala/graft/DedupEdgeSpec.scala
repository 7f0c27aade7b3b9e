package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.TextOps
import graft.operators.{Components, Dedup}
import graft.streaming.{DedupStream, EventStreams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Adversarial corpora through every dedup operator: an empty corpus,
  * and one whose texts are NULL, empty or token-free next to a planted
  * copy and a one-token edit. Each operator must finish, and each
  * result is pinned. */
class DedupEdgeSpec extends SparkSpec {

  private val docSchema = StructType.fromDDL("doc_id BIGINT, text STRING, ts TIMESTAMP")
  private val embSchema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val body = "alpha beta gamma delta epsilon zeta eta"
  private val t0 = new Timestamp(0L)

  /** 0 and 3 NULL, 1 empty, 2 token-free; 5 copies 4; 6 edits 4's last
    * token (two of four distinct 5-shingles shared). */
  private lazy val degenerate = frame(Seq(
    Row(0L, null, t0), Row(1L, "", t0), Row(2L, "!!! 42", t0), Row(3L, null, t0),
    Row(4L, body, t0), Row(5L, body, t0), Row(6L, "alpha beta gamma delta epsilon zeta theta", t0)), docSchema)

  /** Unit axis vectors, except 5 = 4: only the planted copy is cosine 1. */
  private lazy val emb = frame((0 until 7).map { i =>
    val v = Array.fill(8)(0.0f); v(if (i == 5) 4 else i) = 1.0f
    Row(i.toLong, v.toSeq)
  }, embSchema)

  private lazy val empty = frame(Nil, docSchema)
  private lazy val emptyEmb = frame(Nil, embSchema)

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("exactDupGroups: NULL texts are in no group; empty corpus has no groups") {
    val g = Dedup.exactDupGroups(degenerate).collect()
      .map(r => (Option(r.get(0)).isEmpty, r.getLong(1), r.getLong(2))).sortBy(_._3).toSeq
    assert(g == Seq((false, 1L, 1L), (false, 1L, 2L), (false, 2L, 4L), (false, 1L, 6L)))
    assert(Dedup.exactDupGroups(empty).count() == 0L)
  }

  test("minhashNearDups and semanticNearDups: token-free docs never pair") {
    val mh = Dedup.minhashNearDups(degenerate, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(mh == Seq((4L, 5L, 1.0)))
    val sem = Dedup.semanticNearDups(degenerate, emb, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSeq
    assert(sem == Seq((4L, 5L, 1.0)))
    assert(Dedup.minhashNearDups(empty, 0.6).count() == 0L)
    assert(Dedup.semanticNearDups(empty, emptyEmb, 0.6).count() == 0L)
  }

  test("jaccardPairs: NULL and empty shingle sets score no pair") {
    val got = Dedup.jaccardPairs(degenerate, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((4L, 5L, 1.0), (4L, 6L, 0.5), (5L, 6L, 0.5)))
    assert(Dedup.jaccardPairs(empty, 0.2).count() == 0L)
  }

  test("simhashPairsBanded: NULL, empty and token-free docs share the zero sketch") {
    // the raw kernel gives each of them 0, the sketch they would all share
    val raw = degenerate.select(col("doc_id"), TextOps.simhash16(TextOps.tokens(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(raw(_) == 0L) && raw(4L) != 0L)
    // so the pair generator must drop them rather than pair them all at Hamming 0
    assert(pairs(Dedup.simhashPairsBanded(degenerate, 3)).forall(p => p._1 >= 4L))
  }

  test("simhashPairsBanded: NULL, empty and token-free docs get no sketch and never pair") {
    assert(pairs(Dedup.simhashPairsBanded(degenerate, 3)) == Seq((4L, 5L)))
    val sketched = Dedup.simhashSketch(Dedup.tokenHashes(degenerate), 16)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(sketched == Seq(4L, 5L, 6L))
    assert(Dedup.simhashPairsBanded(empty, 3).count() == 0L)
  }

  test("bandStream: docs with no shingle are in no band") {
    val rows = DedupStream.bandStream(degenerate).collect()
    // the NULL, empty and token-free docs 0-3 emit no row, so no NULL
    // band hash and no shared empty-set bucket
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(4L, 5L, 6L))
    assert(rows.length == 3 * Dedup.Bands && rows.forall(!_.isNullAt(3)))
    assert(DedupStream.bandStream(empty).count() == 0L)
  }

  /** 10-13 hold 1-4 tokens, fewer than a shingle; 15 copies 14. Every
    * embedding is the same, so cosine alone would pair any two. */
  private lazy val short = frame(Seq(
    Row(10L, "alpha", t0), Row(11L, "alpha beta", t0), Row(12L, "alpha beta gamma", t0),
    Row(13L, "alpha beta gamma delta", t0), Row(14L, body, t0), Row(15L, body, t0)), docSchema)

  test("docs of 1-4 tokens are in no band and never pair") {
    val banded = DedupStream.bandStream(short).collect().map(_.getLong(0)).distinct.sorted.toSeq
    assert(banded == Seq(14L, 15L))
    assert(pairs(Dedup.candidatesFrom(Dedup.shingled(short))) == Seq((14L, 15L)))
    val sameEmb = frame((10 to 15).map(i => Row(i.toLong, Seq.fill(8)(1.0f))), embSchema)
    // a short pair would score 0.5 (Jaccard 0, cosine 1) and pass
    assert(pairs(Dedup.semanticNearDups(short, sameEmb, 0.4)) == Seq((14L, 15L)))

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.toMemorySink(
      DedupStream.inStreamNearDups(in.toDF().toDF("doc_id", "ts", "text")),
      "short_instream", OutputMode.Append())
    try {
      // event time 0 would sit at the first batch's watermark, and the
      // stateful operator drops such rows as late
      val ts = Timestamp.valueOf("2024-01-01 00:00:00")
      in.addData(short.collect().map(r => (r.getLong(0), ts, r.getString(1))).toSeq)
      q.processAllAvailable()
      val got = spark.table("short_instream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
      assert(got.length == Dedup.Bands && got.forall(_ == ((14L, 15L, 1.0))), got.mkString(";"))
    } finally q.stop()
  }

  test("connectedComponents over the degenerate pairs and over no pairs") {
    val got = Components.connectedComponents(Dedup.simhashPairsBanded(degenerate, 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 4L, 5L -> 4L))
    assert(Components.connectedComponents(Dedup.simhashPairsBanded(empty, 3)).count() == 0L)
  }
}
