package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.Dedup
import graft.queries.Tables

/** Text-analysis + dedup operator contracts. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Row =
    spark.range(1).select(c).collect()(0)

  test("tokens: lowercase alpha runs, empties dropped") {
    val r = one(TextOps.tokens(lit("The fast, key!  X")))
    assert(r.getSeq[String](0) == Seq("the", "fast", "key", "x"))
  }

  test("md5Long matches the portable 60-bit definition") {
    // DuckDB: CAST('0x'||substr(md5('abc'),1,15) AS BIGINT) = 648541476951500027
    assert(one(TextOps.md5Long(lit("abc"))).getLong(0) == 648541476951500027L)
  }

  test("shingles: n-grams with short-doc guard") {
    val toks = lit(Array("a", "b", "c", "d"))
    assert(one(TextOps.shingles(toks, 3)).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(one(TextOps.shingles(toks, 5)).getSeq[String](0).isEmpty)
  }

  test("minhash signature: length H, values in field, empty -> P sentinel") {
    val hs = TextOps.shingleHashes(TextOps.shingles(
      TextOps.tokens(lit("a b c d e f g h")), 3))
    val sig = one(TextOps.minhashSignature(hs, Dedup.MinhashH)).getSeq[Long](0)
    assert(sig.length == Dedup.MinhashH)
    assert(sig.forall(v => v >= 0 && v < TextOps.P))
    val empty = one(TextOps.minhashSignature(array().cast("array<bigint>"), 4)).getSeq[Long](0)
    assert(empty.forall(_ == TextOps.P))
  }

  test("jaccard: distinct-set semantics, zero guard") {
    val a = lit(Array("x", "y", "y"))
    val b = lit(Array("y", "z"))
    assert(one(TextOps.jaccard(a, b)).getDouble(0) == 1.0 / 3.0)
    val e = array().cast("array<string>")
    assert(one(TextOps.jaccard(e, e)).getDouble(0) == 0.0)
  }

  test("simhash16: in range, identical docs agree, hamming contract") {
    val h1 = one(TextOps.simhash16(TextOps.tokens(lit("spark window batch")))).getLong(0)
    val h2 = one(TextOps.simhash16(TextOps.tokens(lit("spark window batch")))).getLong(0)
    assert(h1 == h2 && h1 >= 0 && h1 < (1L << 16))
    assert(one(TextOps.hamming16(lit(h1), lit(h1))).getLong(0) == 0L)
    assert(one(TextOps.hamming16(lit(0L), lit(65535L))).getLong(0) == 16L)
  }

  test("banded simhash pairs equal the all-pairs baseline (pigeonhole is lossless)") {
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 80)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    for ((maxDist, bits) <- Seq((1, 16), (3, 16), (9, 60))) {
      val brute = norm(Dedup.simhashPairs(docs, maxDist, bits)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming")))
      val banded = norm(Dedup.simhashPairsBanded(docs, maxDist, bits)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming")))
      assert(banded == brute, s"maxDist=$maxDist bits=$bits")
      if (bits == 16)
        assert(brute.nonEmpty, "vacuous comparison — widen the doc subset")
    }
  }

  test("bloom build/probe parity: every member bit set via both paths") {
    // the r6 advisory: build side (scalar) and probe side (Column) must
    // derive from ONE probe definition — this pins that a member's bits
    // are set through the scalar formula AND found through the Column
    // path, so a drift in either direction fails here before it can
    // break the no-false-negative guarantee
    // NEGATIVE hashes included: the r7 advisory — a signed % would make
    // the driver build throw while the Column probe wrapped from the
    // array end; floorMod/pmod must land both on the same bit
    val members = Seq(0L, 1L, 7919L, 1152921504606846975L,
      648541476951500027L, -1L, -7919L, -648541476951500027L)
    val bits = Dedup.bloomBits(members)
    for (h <- members; i <- 0 until Dedup.BloomK)
      assert(bits(Dedup.bloomProbe(i, h).toInt), s"scalar probe $i of $h unset")
    val bitsCol = typedLit(bits)
    val flagged = members.toDF("h")
      .select(Dedup.bloomMightContain(col("h"), bitsCol).as("m"))
      .collect().map(_.getBoolean(0))
    assert(flagged.forall(identity), "Column probe missed a member")
    // and the SQL fragment is the same formula (signed-%-safe wrap)
    assert(Dedup.bloomProbeSql("i", "h") ==
      s"((((2*i+1)*h + 7919*i) % ${Dedup.BloomM}) + ${Dedup.BloomM}) % ${Dedup.BloomM}")
    // the distributed build (one-row collect_set head) yields the SAME
    // bits as the driver-side build — the declared decon paths read
    // bloomBitsOf, the streaming screen and tests read bloomBits, and
    // this parity keeps them one filter
    assert(Dedup.bloomBitsOf(members.toDF("h")) === bits)
  }

  test("exact dedup groups duplicates by content hash") {
    val docs = Seq((0L, "same text here"), (1L, "same text here"), (2L, "different"))
      .toDF("doc_id", "text")
    val g = Dedup.exactDupGroups(docs).collect()
    assert(g.length == 2)
    val dup = g.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 0L) // keep_id = min doc_id
  }

  test("minhash near-dup pipeline surfaces an exact duplicate at jaccard 1.0") {
    // tokens must stay alphabetic — digits are split boundaries
    def w(i: Int) = "w" + ("a" + ('a' + i % 26).toChar.toString) * (i / 26 + 1)
    val body = (1 to 30).map(w).mkString(" ")
    val docs = Seq((0L, body), (1L, body), (2L, (31 to 60).map(w).mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, 0.9).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 0L && pairs(0).getLong(1) == 1L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("winnowing: containment guarantee — shared long run shares a fingerprint") {
    def w(i: Int) = "w" + ("a" + ('a' + i % 26).toChar.toString) * (i / 26 + 1)
    val shared = (1 to 15).map(w).mkString(" ") // long shared run
    val docs = Seq(
      (0L, shared + " " + (20 to 40).map(w).mkString(" ")),
      (1L, (50 to 70).map(w).mkString(" ") + " " + shared))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      TextOps.winnow(TextOps.shingleHashes(
        TextOps.shingles(TextOps.tokens(col("text")), 5)), 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(0L).intersect(fps(1L)).nonEmpty)
    // disjoint docs share nothing
    val other = Seq((2L, (100 to 130).map(w).mkString(" "))).toDF("doc_id", "text")
      .select(TextOps.winnow(TextOps.shingleHashes(
        TextOps.shingles(TextOps.tokens(col("text")), 5)), 4))
      .collect()(0).getSeq[Long](0).toSet
    assert(fps(0L).intersect(other).isEmpty)
  }

  test("language-ID and quality score are deterministic and bounded") {
    val df = Seq((0L, "the fast hash scan table table scan")).toDF("doc_id", "text")
    val r = df.select(TextOps.langId(col("text")), TextOps.qualityScore(col("text"))).collect()(0)
    assert(r.getString(0) == "zh") // 5 zh-marker hits beat 3 en hits
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
  }

  test("naive bayes classifier learns a wiki/web split the gopher rules are blind to") {
    // fixture corpus with a GENUINE class-conditional vocabulary (the
    // testdata's sources draw one shared vocab — measured r13: NB
    // scores under a source split differ by <0.1% of within-class
    // spread — so the learning power is proven here, on data where a
    // wiki/web distinction exists): every doc is exactly 40 tokens of
    // identical length statistics, so ANY length/symbol/ratio rule
    // (the Gopher family) scores the classes identically (AUC = 0.5
    // by construction); only the learned token weights can separate.
    val rnd = new scala.util.Random(7)
    val wikiV = Vector("archive", "citation", "history", "empire",
      "treaty", "province", "dynasty", "manuscript", "congress", "memoir")
    val webV = Vector("click", "subscribe", "offer", "free",
      "deal", "winner", "bonus", "prize", "unlock", "limited")
    // a shared filler vocab both classes mix in — the overlap that
    // makes separation non-trivial (half of every doc is class-blind)
    val fillV = Vector("the", "a", "of", "to", "page", "site",
      "new", "more", "read", "view")
    def mk(id: Long, v: Vector[String]) = (id,
      (0 until 40).map { _ =>
        val pool = if (rnd.nextBoolean()) v else fillV
        pool(rnd.nextInt(pool.size))
      }.mkString(" "))
    val wiki = (0L until 40L).map(mk(_, wikiV))
    val web = (100L until 140L).map(mk(_, webV))
    val docs = (wiki ++ web).toDF("doc_id", "text")
    val B = 4096
    val feats = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(concat(col("toks"), TextOps.shingles(col("toks"), 2))).as("feat"))
      .withColumn("f", TextOps.md5Long(col("feat")) % B)
    // train on even ids (both classes), score the held-out odd ids
    val counts = graft.operators.NaiveBayes.train(
      feats.filter(col("doc_id") % 2 === 0), col("doc_id") < 100)
    val scored = graft.operators.NaiveBayes.score(
      feats.filter(col("doc_id") % 2 === 1), counts, B, Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val wikiScores = scored.filter(_._1 < 100).values.toSeq
    val webScores = scored.filter(_._1 >= 100).values.toSeq
    assert(wikiScores.size == 20 && webScores.size == 20)
    // AUC = P(held-out wiki doc outscores held-out web doc); the
    // gopher-family AUC on this corpus is 0.5 by construction (every
    // doc has identical length statistics, so the flag is constant)
    val pairs = for (w <- wikiScores; b <- webScores) yield
      (if (w > b) 1.0 else if (w == b) 0.5 else 0.0)
    val auc = pairs.sum / pairs.size
    assert(auc >= 0.95,
      s"learned separation AUC $auc must beat the constant-flag 0.5 decisively")
  }

  test("naive bayes: unseen buckets score the pure-smoothing prior vote") {
    // one positive and one negative training doc over disjoint tokens;
    // a scoring doc of tokens NEVER SEEN in training must take the
    // left-join smoothing path (+1 prior both sides), not drop rows
    val docs = Seq((0L, "alpha beta gamma"), (1L, "delta epsilon zeta"),
      (2L, "omega sigma theta")).toDF("doc_id", "text")
    val B = 4096
    val feats = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("feat"))
      .withColumn("f", TextOps.md5Long(col("feat")) % B)
    val counts = graft.operators.NaiveBayes.train(
      feats.filter(col("doc_id") < 2), col("doc_id") === 0)
    val got = graft.operators.NaiveBayes.score(
      feats.filter(col("doc_id") === 2), counts, B, Seq("doc_id")).collect()
    assert(got.length == 1 && got(0).getLong(1) == 3L)
    // every occurrence votes (1*(3+B)*1e6) div (1*(3+B) + 1*(3+B)) =
    // exactly 500000 — the equal-priors coin flip
    assert(got(0).getLong(2) == 500000L, s"got ${got(0).getLong(2)}")
  }

  test("ngram LM separates fluent from reversed-token docs; gopher constant, bag-NB twin-blind") {
    import graft.operators.{NaiveBayes, NgramLm}
    // fixture: every doc walks the SAME deterministic 2-successor
    // Markov chain over ONE shared vocabulary — no class-conditional
    // vocabulary anywhere, so a supervised bag fit has nothing real to
    // learn, and every "disfluent" doc is an exact TOKEN PERMUTATION
    // (reversal) of a fluent one, so every order-blind surface
    // statistic (the Gopher family) is equal PAIRWISE by construction.
    // Only a model of token ORDER can tell the classes apart.
    val vocab = Vector("granite", "river", "bends", "north", "past",
      "cedar", "ridge", "where", "miners", "carved", "narrow", "steps",
      "toward", "summit", "camps", "before", "winter", "storms", "close",
      "passes")
    val succ: Map[String, Vector[String]] = vocab.zipWithIndex.map {
      case (w, i) => w -> Vector(vocab((i + 3) % vocab.size), vocab((i + 7) % vocab.size))
    }.toMap
    val rnd = new scala.util.Random(19)
    def walk(len: Int): Seq[String] = {
      var w = vocab(rnd.nextInt(vocab.size))
      (0 until len).map { _ => val cur = w; w = succ(cur)(rnd.nextInt(2)); cur }
    }
    val trainDocs = (0L until 20L).map(id => (id, walk(40).mkString(" ")))
    val fluent = (100L until 120L).map(id => (id, walk(40).mkString(" ")))
    val reversed = fluent.map { case (id, t) =>
      (id + 100L, t.split(" ").reverse.mkString(" ")) }
    val docs = (trainDocs ++ fluent ++ reversed).toDF("doc_id", "text")

    // gopher blindness: reversal preserves the token multiset, so any
    // length/ratio/frequency rule is EQUAL pairwise — pinned exactly
    fluent.zip(reversed).foreach { case ((_, f), (_, r)) =>
      assert(f.split(" ").sorted.sameElements(r.split(" ").sorted))
      assert(f.length == r.length)
    }

    // the LM, trained ONLY on the fluent reference walks (no labels)
    val fe = NgramLm.feats(docs, Seq("doc_id"))
    val (c3, c2) = NgramLm.train(fe.filter(col("doc_id") < 100))
    val lm = NgramLm.score(fe.filter(col("doc_id") >= 100), c3, c2, Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val lmFluent = lm.filter(_._1 < 200).values.toSeq
    val lmRev = lm.filter(_._1 >= 200).values.toSeq
    assert(lmFluent.size == 20 && lmRev.size == 20)
    assert(lmFluent.min > lmRev.max,
      s"LM must totally separate: fluent min ${lmFluent.min} vs reversed max ${lmRev.max}")

    // NB-blindness, pinned as the exact invariance it is: a BAG model
    // (NB's unigram mass, DSIR's weighting) is a function of the token
    // MULTISET, so a permuted twin gets the IDENTICAL score — not
    // "near chance" empirically but equal by construction, AUC 0.5
    // exactly. Train NB with the declared reference-vs-crawl labels
    // (reference walks positive, held-out corpus negative — NO
    // fluency label exists, as in the real pipeline) over unigram
    // features and pin twin-score equality.
    val uni = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("feat"))
      .withColumn("f", TextOps.md5Long(col("feat")) % NgramLm.CtxBuckets)
    val counts = NaiveBayes.train(
      uni.filter(col("doc_id") < 100 || col("doc_id") % 2 === 0),
      col("doc_id") < 100)
    val nb = NaiveBayes.score(
        uni.filter(col("doc_id") >= 100), counts,
        NgramLm.CtxBuckets, Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    fluent.foreach { case (id, _) =>
      assert(nb(id) == nb(id + 100L),
        s"bag-NB must score permuted twins identically: doc $id")
    }
  }

  /** Runs `body` with whole-stage and expression codegen off
    * (interpreted) or forced on, then restores the defaults. */
  private def evalMode[T](codegen: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      body
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  /** Rows of an RDD-backed frame: no optimizer rule folds or pre-computes
    * a projection over it, so the kernels run in the generated (or
    * interpreted) operator. */
  private def rddFrame(rows: Seq[Row], schema: String): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** (id, native, reference) value pairs under one evaluation mode. */
  private def pairsOf(df: org.apache.spark.sql.DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)],
      codegen: Boolean): Seq[(String, Long, Any, Any)] = evalMode(codegen) {
    df.select(col("id") +: checks.flatMap { case (_, n, h) => Seq(n, h) }: _*)
      .collect().toSeq.flatMap { r =>
        checks.indices.map(i => (checks(i)._1, r.getLong(0), r.get(1 + 2 * i), r.get(2 + 2 * i)))
      }
  }

  private def assertParity(df: org.apache.spark.sql.DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)]): Unit = {
    val interp = pairsOf(df, checks, codegen = false)
    val gen = pairsOf(df, checks, codegen = true)
    for (got <- Seq(interp, gen); (name, id, native, ref) <- got)
      assert(native == ref, s"$name differs on row $id: native $native, reference $ref")
    assert(interp == gen, "interpreted and generated evaluation disagree")
  }

  /** Edge texts, then 200 seeded random docs over a small vocabulary with
    * mixed case, digits and runs of separators. */
  private lazy val parityTexts: Seq[Row] = {
    val edge = Seq(null, "", "  ,, ", "42 007", "a", "a b c d", "a b c d e",
      "a b c d e f", "Hello,,  WORLD 42 foo9bar  Baz;;the THE the", "x y x y x y x y")
    val rnd = new scala.util.Random(20261019)
    val vocab = Vector("the", "Fast", "HASH", "scan", "x", "q9z", "merge", "and")
    val seps = Vector(" ", "  ", ", ", "!?", " 12 ", "\t")
    val random = (0 until 200).map { _ =>
      (0 until rnd.nextInt(24)).map(_ => vocab(rnd.nextInt(vocab.size)) + seps(rnd.nextInt(seps.size))).mkString
    }
    (edge ++ random).zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
  }

  test("native shingles, minhash and simhash equal their HOF references on text") {
    val docs = rddFrame(parityTexts, "id BIGINT, text STRING")
      .select(col("id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("id"), col("toks"),
        TextOps.shingleHashes(TextOps.shingles(col("toks"), Dedup.ShingleN)).as("shh"),
        transform(col("toks"), t => TextOps.md5Long(t)).as("th"))
    val checks =
      Seq(1, 2, 3, 5).map(n => (s"shingles n=$n",
        TextOps.shingles(col("toks"), n), TextHof.shingles(col("toks"), n))) ++
      Seq(1, Dedup.MinhashH).map(h => (s"minhash h=$h",
        TextOps.minhashSignature(col("shh"), h), TextHof.minhashSignature(col("shh"), h))) ++
      Seq(1, 16, 32, 60).map(b => (s"simhash bits=$b",
        TextOps.simhashFromHashes(col("th"), b), TextHof.simhashFromHashes(col("th"), b)))
    assertParity(docs, checks)
  }

  test("native kernels equal their HOF references on NULL elements and negative hashes") {
    val arrays = rddFrame(Seq(
        Row(0L, null, null),
        Row(1L, Seq(), Seq()),
        Row(2L, Seq("a", null, "c", "d", null, "f"), Seq(1L, null, -5L, 7L)),
        Row(3L, Seq(null, null, null), Seq(null)),
        Row(4L, Seq("x"), Seq(-1L, -7919L, -2147483646L, -123456789012L)),
        Row(5L, Seq("a", "b", "c"), Seq(-648541476951500027L, 648541476951500027L, -3L)),
        Row(6L, Seq("p", "q", "r", "s", "t"), Seq(2147483646L, 0L, null, 2147483647L))),
      "id BIGINT, toks ARRAY<STRING>, h ARRAY<BIGINT>")
    // the minhash products stay far below 2^63 only for field-sized
    // hashes, which is all the kernel is ever given; row 5 feeds simhash
    val field = when(col("id") =!= 5L, col("h"))
    val checks =
      Seq(1, 2, 3, 5).map(n => (s"shingles n=$n",
        TextOps.shingles(col("toks"), n), TextHof.shingles(col("toks"), n))) ++
      Seq(1, Dedup.MinhashH).map(k => (s"minhash h=$k",
        TextOps.minhashSignature(field, k), TextHof.minhashSignature(field, k))) ++
      Seq(1, 16, 60).map(b => (s"simhash bits=$b",
        TextOps.simhashFromHashes(col("h"), b), TextHof.simhashFromHashes(col("h"), b)))
    assertParity(arrays, checks)
    // pinned corners: NULL text gives NULL shingles, a NULL hash array
    // MinHash components of NULL and a SimHash of 0, a NULL element
    // votes against every bit
    val r = arrays.filter(col("id") <= 3L).orderBy("id").select(
        TextOps.shingles(col("toks"), 2), TextOps.minhashSignature(col("h"), 2),
        TextOps.simhashFromHashes(col("h"), 4)).collect()
    assert(r(0).isNullAt(0) && r(0).getSeq[Any](1) == Seq(null, null) && r(0).getLong(2) == 0L)
    assert(r(1).getSeq[String](0).isEmpty && r(1).getSeq[Long](1) == Seq(TextOps.P, TextOps.P))
    assert(r(2).getSeq[String](0) == Seq("a", "c", "c d", "d", "f"))
    assert(r(3).getSeq[String](0) == Seq("", "") && r(3).getLong(2) == 0L)
  }

  test("NgramLm.feats equals the per-window trigram and context formula") {
    import graft.operators.NgramLm
    val docs = rddFrame(parityTexts, "doc_id BIGINT, text STRING")
    val toks = TextOps.tokens(col("text"))
    val pairs = when(size(toks) < 3,
        array().cast("array<struct<tri:string,ctx:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 2),
        i => struct(
          concat_ws(" ", slice(toks, i, lit(3))).as("tri"),
          concat_ws(" ", slice(toks, i, lit(2))).as("ctx"))))
    val reference = docs.select(col("doc_id"), explode(pairs).as("tc"))
      .select(col("doc_id"),
        (TextOps.md5Long(col("tc.tri")) % NgramLm.TriBuckets).as("f3"),
        (TextOps.md5Long(col("tc.ctx")) % NgramLm.CtxBuckets).as("f2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val got = rows(NgramLm.feats(docs, Seq("doc_id")))
    assert(got.nonEmpty && got == rows(reference))
  }

  test("lambda lint: the dedup text plans evaluate no invariant work per element") {
    import graft.operators.NgramLm
    import graft.streaming.DedupStream
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), current_timestamp().as("ts"))
    def lint(df: org.apache.spark.sql.DataFrame) = LambdaLint.offenders(df.queryExecution.optimizedPlan)
    val plans = Seq(
      "Dedup.shingled" -> Dedup.shingled(docs),
      "Dedup.signatures" -> Dedup.signatures(docs),
      "simhashSketch(tokenHashes)" -> Dedup.simhashSketch(Dedup.tokenHashes(docs), 32),
      "DedupStream.bandStream" -> DedupStream.bandStream(docs),
      "DedupStream.contaminationScreen" ->
        DedupStream.contaminationScreen(docs, Dedup.bloomBits(Seq(1L, 2L))),
      "NgramLm.feats" -> NgramLm.feats(docs, Seq("doc_id")))
    val offenders = plans.flatMap { case (name, df) => lint(df).map(o => s"$name: $o") }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the lint is not vacuous: the HOF formulas trip it, while a lambda
    // whose md5 reads its own variable does not
    val toks = TextOps.tokens(col("text"))
    assert(lint(docs.select(TextHof.shingles(toks, 5))).exists(_.contains("split")))
    assert(lint(docs.select(TextHof.minhashSignature(
      TextOps.shingleHashes(TextOps.shingles(toks, 5)), 4))).exists(_.contains("transform")))
    assert(lint(docs.select(TextHof.simhashFromHashes(
      transform(toks, t => TextOps.md5Long(t)), 16))).nonEmpty)
    assert(lint(docs.select(transform(toks, t => TextOps.md5Long(t)))).isEmpty)
  }
}
