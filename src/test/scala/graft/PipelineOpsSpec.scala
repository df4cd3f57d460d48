package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Tests for the training-data pipeline pack: dedup, similarity search,
  * text analysis, multimodal plumbing.
  */
class PipelineOpsSpec extends AnyFunSuite {
  import TestSpark._

  private def docs(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, 2),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType))))

  // --- text analysis -------------------------------------------------------
  test("normalize / tokens / token counts") {
    val df = docs((1L, "Hello,  World! 42"))
    val r = df.select(
      TextAnalysis.normalize(col("text")).as("n"),
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bc")).head()
    assert(r.getString(0) == "hello world 42")
    assert(r.getInt(1) == 3)
    // hello , world ! 42 → 5 BPE-ish tokens
    assert(r.getInt(2) == 5)
  }

  test("punct/digit ratios and quality score bounds") {
    val clean = docs((1L, "the cat and the dog sat in the house of cards to rest"))
    val noisy = docs((2L, "!!!??? 12345 ,,,,"))
    val qc = clean.select(TextAnalysis.qualityScore(col("text"))).head().getDouble(0)
    val qn = noisy.select(TextAnalysis.qualityScore(col("text"))).head().getDouble(0)
    assert(qc > qn)
    assert(qc >= 0.0 && qc <= 1.0 && qn >= 0.0 && qn <= 1.0)
  }

  test("langId picks the stopword-dominant language, 'und' for no hits") {
    val df = docs(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "le chat et les chiens est une merveille"),
      (4L, "xyzzy plugh"))
    val preds = df
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(2L) == "de")
    assert(preds(3L) == "fr")
    assert(preds(4L) == "und")
  }

  test("md5 fingerprint is normalization-invariant") {
    val df = docs((1L, "Hello,   World!"), (2L, "hello world"))
    val fps = df.select(TextAnalysis.fingerprintMd5(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("connectedComponents: min-label clusters over pair edges") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(2L, 1L), Row(2L, 3L), Row(3L, 4L), // chain 1-2-3-4 -> cluster 1
        Row(6L, 5L))),                         // pair 5-6 -> cluster 5
      StructType(Seq(StructField("id1", LongType), StructField("id2", LongType))))
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents: pointer jumping makes rounds O(log diameter)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a 256-hop chain: plain one-hop propagation needs ~256 rounds and
    // would blow the 15-round budget; the label-of-label jump doubles the
    // travelled distance each round, so ~log2(256)+2 rounds suffice
    val chain = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 256L).map(i => Row(i, i + 1)), 4),
      StructType(Seq(StructField("id1", LongType), StructField("id2", LongType))))
    val cc = Dedup.connectedComponents(chain, maxIters = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == 257)
    assert(cc.forall(_._2 == 0L), "every chain vertex must settle on the min label")
  }

  test("clusterRepresentatives: argmax preference, ties to smallest id, null pref last") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val members = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 100L, 5.0), Row(2L, 100L, 9.0), Row(3L, 100L, 9.0), // tie 2 vs 3
        Row(7L, 200L, 1.0),
        Row(8L, 300L, null), Row(9L, 300L, null)), 3),              // all-null cluster
      StructType(Seq(
        StructField("doc_id", LongType), StructField("cluster_id", LongType),
        StructField("pref", DoubleType))))
    val got = Dedup
      .clusterRepresentatives(members, "doc_id", "cluster_id", "pref")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(100L) == ((2L, 3L)), "max pref 9.0, tie 2 vs 3 -> smallest id 2")
    assert(got(200L) == ((7L, 1L)))
    assert(got(300L) == ((8L, 2L)), "all-NULL preferences -> min id")
  }

  test("dedupKeepBest: best doc per cluster survives, unclustered pass through") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 3.0), Row(2L, 8.0), Row(3L, 8.0), // cluster {1,2,3}
        Row(5L, 1.0), Row(6L, 2.0),               // cluster {5,6}
        Row(9L, 0.0))),                           // unclustered
      StructType(Seq(
        StructField("doc_id", LongType), StructField("quality", DoubleType))))
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2L), Row(2L, 3L), Row(5L, 6L))),
      StructType(Seq(StructField("id1", LongType), StructField("id2", LongType))))
    val kept = Dedup.dedupKeepBest(docs, pairs, "doc_id", "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 6L, 9L))
  }

  test("dedupParagraphs: first corpus occurrence survives, docs reassemble in order") {
    val df = docs(
      (1L, "alpha\nshared boilerplate\nbeta"),
      (2L, "shared boilerplate\ngamma"),   // loses the repeat, keeps gamma
      (3L, "shared boilerplate"),          // fully boilerplate -> dropped
      (4L, "x\n\ny"))                      // blank paragraph is structural, kept
    val out = Dedup.dedupParagraphs(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha\nshared boilerplate\nbeta")
    assert(out(2L) == "gamma")
    assert(!out.contains(3L), "a fully-deduplicated document must drop out")
    assert(out(4L) == "x\n\ny")
  }

  test("dedupParagraphs: minParagraphChars shields short lines; regex delimiters are quoted") {
    val df = docs((1L, "ab|CHUNK|x|CHUNK|ab"), (2L, "ab|CHUNK|longer paragraph"))
    // '|' must be treated literally (quoted), and 2-char paragraphs are
    // structural at minParagraphChars=3: the repeated 'ab' all survive
    val out = Dedup.dedupParagraphs(df, "text", "doc_id",
        delimiter = "|CHUNK|", minParagraphChars = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "ab|CHUNK|x|CHUNK|ab")
    assert(out(2L) == "ab|CHUNK|longer paragraph")
  }

  test("gopherRules: each rule trips independently, composite ANDs them") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val good =
      Seq.fill(12)("the quick brown foxes and jumps of to in a is lazy dogs")
        .mkString(" ")
    val df = Seq(
      (1L, good),                                     // passes everything
      (2L, "too short the and"),                      // n_words < minWords
      (3L, good + " ##### ##### ##### ##### #####"),  // symbol ratio > 0.1
      (4L, good.replace(" ", " … ")),                 // symbols per word >> 0.1
      (5L, Seq.fill(50)("zz9 88").mkString(" ")),     // no stopwords
      (6L, (1 to 60).map(_ => "12345").mkString(" ")) // no alpha words
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "text", minWords = 50)
      .select("doc_id", "gopher_keep", "n_words", "stopword_count")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out(1L)._1, "clean doc passes")
    assert(out(1L)._3 === 7, "all seven stopwords present")
    assert(!out(2L)._1 && out(2L)._2 === 4L)
    assert(!out(3L)._1, "hash symbols fail the ratio")
    assert(!out(4L)._1, "ellipsis symbols fail the ratio")
    assert(!out(5L)._1 && out(5L)._3 === 0)
    assert(!out(6L)._1, "all-numeric words fail the alpha fraction")
  }

  test("gopherRules: bullet and ellipsis line fractions") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val wordy = Seq.fill(60)("the of a is and").mkString(" ")
    val bullets = (1 to 10).map(i => s"- item $i of the a is and thing")
      .mkString("\n") + "\n" + wordy
    val trailing = (1 to 9).map(i => s"line $i of the a is and then...")
      .mkString("\n") + "\n" + wordy
    val df = Seq((1L, bullets), (2L, trailing)).toDF("doc_id", "text")
    val out = TextAnalysis
      .gopherRules(df, "text", minWords = 10,
        maxBulletFrac = 0.5, maxEllipsisFrac = 0.5)
      .select("doc_id", "bullet_line_frac", "ellipsis_line_frac", "gopher_keep")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L)._1 > 0.5 && !out(1L)._3, "bullet-heavy doc fails")
    assert(out(2L)._2 === 0.9 && !out(2L)._3, "ellipsis-trailing doc fails")
  }

  test("removeBoilerplate: df-threshold strips per group, empty docs survive") {
    import spark.implicits._
    val df = Seq(
      // group A: 4 docs — threshold ceil(0.5*4)=2 docs
      (1L, "A", "nav\nalpha\nfoot"),
      (2L, "A", "nav\nbeta"),
      (3L, "A", "gamma\nfoot"),
      (4L, "A", "nav\nfoot"), // fully boilerplate → empty text, still present
      // group B: 1 doc — "nav" here is NOT boilerplate (minDocs=2 floor)
      (5L, "B", "nav\ndelta")
    ).toDF("doc_id", "src", "text")
    val out = Dedup
      .removeBoilerplate(df, "text", "doc_id", minDocFraction = 0.5,
        groupCol = Some("src"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === (("alpha", 3L, 2L)))
    assert(out(2L) === (("beta", 2L, 1L)))
    assert(out(3L) === (("gamma", 2L, 1L)))
    assert(out(4L) === (("", 2L, 2L)), "fully-stripped doc stays, empty")
    assert(out(5L) === (("nav\ndelta", 2L, 0L)), "singleton group keeps everything")
  }

  test("removeBoilerplate: global mode with fraction threshold") {
    import spark.implicits._
    val df = (1L to 10L).map { i =>
      (i, if (i <= 9) "promo\nbody" + i else "body10")
    }.toDF("doc_id", "text")
    // "promo" in 9/10 docs ≥ ceil(0.8*10)=8 → stripped everywhere
    val out = Dedup
      .removeBoilerplate(df, "text", "doc_id", minDocFraction = 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 9L).forall(i => out(i) == s"body$i"))
    assert(out(10L) == "body10")
  }

  test("duplicatedSpans: non-first window occurrences mark spans, unions merge") {
    val df = docs(
      // all windows first-occurrence → dup 0
      (1L, "a b c d e f g h i j"),
      // contains doc 1's window "a b c d e f g h" at pos 3 → 8 dup tokens
      (2L, "z y a b c d e f g h x w"),
      // exact copy of doc 1: every window flagged, spans union to the
      // whole 10-token document
      (3L, "a b c d e f g h i j"),
      // shorter than the window → no windows, dup 0
      (4L, "one two"),
      // internal repetition: pos-9 window repeats pos-1 → 8 dup tokens
      (5L, "p q r s t u v w p q r s t u v w"))
    val r = Dedup.duplicatedSpans(df, "text", "doc_id", windowTokens = 8)
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r(1L) == ((10L, 0L, 0.0)))
    assert(r(2L) == ((12L, 8L, 0.666667)))
    assert(r(3L) == ((10L, 10L, 1.0)))
    assert(r(4L) == ((2L, 0L, 0.0)))
    assert(r(5L) == ((16L, 8L, 0.5)))
  }

  test("duplicatedSpans: overlapping flagged windows count covered tokens once") {
    // doc 11 is the source; doc 12 shares a 9-token run → two overlapping
    // flagged 8-windows (pos 1 and 2) covering 9 tokens, not 16
    val df = docs(
      (11L, "a b c d e f g h i j k l"),
      (12L, "a b c d e f g h i x y z"))
    val r = Dedup.duplicatedSpans(df, "text", "doc_id", windowTokens = 8)
      .where(col("doc_id") === 12L).head()
    assert(r.getLong(1) == 12L)
    assert(r.getLong(2) == 9L)
  }

  test("removeDuplicatedSpans: covered tokens excised, survivors reassemble, full dups drop") {
    val df = docs(
      (1L, "a b c d e f g h i j"),
      // doc 1's window at pos 3..10 → tokens 3-10 removed, "z y x w" kept
      (2L, "z y a b c d e f g h x w"),
      // exact copy → fully covered → drops out
      (3L, "a b c d e f g h i j"),
      // shorter than the window → untouched (normalized)
      (4L, "One  Two!"))
    val out = Dedup.removeDuplicatedSpans(df, "text", "doc_id", windowTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b c d e f g h i j")
    assert(out(2L) == "z y x w")
    assert(!out.contains(3L), "a fully-duplicated document must drop out")
    assert(out(4L) == "one two")
  }

  // Generated inputs for the exact-substring family: a 4-letter alphabet
  // (collision-rich windows) plus tokens that normalization rewrites,
  // window sizes from 1 up to past every document, NULL ids and texts,
  // empty / whitespace-only / unicode-only text, exact copies of earlier
  // documents (fully covered), self-repeats, and earlier documents' tails
  // (a flag at the last window). Non-null ids are distinct and ascend in
  // generation order, so "earlier" is "first occurrence".
  private case class SpanCase(rows: Seq[(java.lang.Long, String)], l: Int, parts: Int)

  private val spanTokenGen: Gen[String] = Gen.frequency(
    12 -> Gen.oneOf("a", "b", "c", "d"),
    1 -> Gen.oneOf("A", "b,", "é", "xé", "日本", "Straße"))

  private val spanCaseGen: Gen[SpanCase] = for {
    nDocs <- Gen.choose(0, 12)
    // 1000 exceeds every generated document: a generated token normalizes
    // to at most 2, so a self-repeat holds at most 56 and each tail of an
    // earlier document adds at most 28 (364 over 12 documents)
    l <- Gen.oneOf(1, 2, 3, 8, 1000)
    bodies <- Gen.listOfN(nDocs, Gen.choose(0, 14).flatMap(Gen.listOfN(_, spanTokenGen)))
    // 0 as is, 1 copy, 2 self-repeat, 3 tail of an earlier doc,
    // 4 empty, 5 whitespace-only, 6 unicode-only, 7 NULL text
    shapes <- Gen.listOfN(nDocs, Gen.frequency(
      6 -> 0, 2 -> 1, 1 -> 2, 2 -> 3, 1 -> 4, 1 -> 5, 1 -> 6, 1 -> 7))
    picks <- Gen.listOfN(nDocs, Gen.choose(0, 1000))
    gaps <- Gen.listOfN(nDocs, Gen.choose(1L, 3L))
    nullIds <- Gen.listOfN(nDocs, Gen.frequency(9 -> false, 1 -> true))
    sep <- Gen.oneOf(" ", "  ", " \t ")
    parts <- Gen.choose(1, 5)
  } yield {
    val texts = bodies.indices.foldLeft(Vector.empty[String]) { (acc, i) =>
      def earlier: Option[String] = if (i == 0) None else Option(acc(picks(i) % i))
      val body = bodies(i).mkString(sep)
      acc :+ (shapes(i) match {
        case 1 => earlier.getOrElse(body)
        case 2 => s"$body$sep$body"
        case 3 => earlier.fold(body) { e =>
          val toks = e.split(sep).toSeq
          (bodies(i) ++ toks.drop(math.max(0, toks.size - l - picks(i) % 3))).mkString(sep)
        }
        case 4 => ""
        case 5 => " \t  "
        case 6 => "日本語 ☃"
        case 7 => null
        case _ => body
      })
    }
    val ids = gaps.scanLeft(-5L)(_ + _).tail
    SpanCase(
      texts.indices.map { i =>
        (if (nullIds(i)) null else java.lang.Long.valueOf(ids(i)), texts(i))
      },
      l, parts)
  }

  test("duplicatedSpans / removeDuplicatedSpans: randomized parity vs brute force") {
    val prop = Prop.forAllNoShrink(spanCaseGen) { c =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(c.rows.map { case (id, t) => Row(id, t) }, 2),
        StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType)))).repartition(c.parts)
      val l = c.l
      // reference: tokens through the operators' own tokenizer, windows
      // grouped by their raw token lists, first occurrence = min (id, pos)
      val toks: Map[Long, Vector[String]] = df
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
      val wins = toks.toSeq.flatMap { case (id, t) =>
        (0 to t.size - l).map(i => ((id, i + 1), t.slice(i, i + l)))
      }
      val first = wins.groupBy(_._2).map { case (w, occ) => w -> occ.map(_._1).min }
      val covered = wins.collect { case (key @ (id, p), w) if first(w) != key => (id, p) }
        .groupBy(_._1).map { case (id, ps) => id -> ps.flatMap(p => p._2 until p._2 + l).toSet }
        .withDefaultValue(Set.empty[Int])
      def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val wantStats = toks.map { case (id, t) =>
        val dup = covered(id).size
        (id, t.size.toLong, dup.toLong, round6(dup.toDouble / math.max(t.size, 1)))
      }.toSeq.sorted
      val wantText = toks.toSeq.flatMap { case (id, t) =>
        val kept = t.zipWithIndex.collect { case (tk, i) if !covered(id)(i + 1) => tk }
        if (kept.isEmpty) None else Some(id -> kept.mkString(" "))
      }.sorted
      val distinctWins = toks.map { case (id, t) => id -> t.sliding(l).filter(_.size == l).toSet }
      val docFreq = distinctWins.values.toSeq.flatten.groupBy(identity).map { case (w, o) => w -> o.size }
      val wantNovelty = toks.keys.toSeq.sorted.map { id =>
        val ws = distinctWins(id)
        val novel = ws.count(docFreq(_) == 1)
        (id, ws.size.toLong, novel.toLong,
          if (ws.isEmpty) None else Some(round6(novel.toDouble / ws.size)))
      }
      val (gotStats, gotText, gotNovelty) = graft.core.Blocks.scoped {
        (Dedup.duplicatedSpans(df, "text", "doc_id", windowTokens = l).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted,
        Dedup.removeDuplicatedSpans(df, "text", "doc_id", windowTokens = l).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted,
        Dedup.ngramNovelty(df, "text", "doc_id", windowTokens = l).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq.sortBy(_._1))
      }
      Prop.all(
        (gotStats == wantStats) :| s"duplicatedSpans got=$gotStats want=$wantStats",
        (gotText == wantText) :| s"removeDuplicatedSpans got=$gotText want=$wantText",
        (gotNovelty == wantNovelty) :| s"ngramNovelty got=$gotNovelty want=$wantNovelty"
      ) :| s"case $c"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("PII scan: counts and redaction with typed placeholders") {
    val df = docs(
      (1L, "mail a@b.co and c.d+x@e-f.org, call +1 (555) 123-4567, see https://x.io/p?q=1 end"),
      (2L, "clean text"))
    val out = df.select(
      col("doc_id"),
      TextAnalysis.emailCount(col("text")).cast("long").as("e"),
      TextAnalysis.urlCount(col("text")).cast("long").as("u"),
      TextAnalysis.phoneCount(col("text")).cast("long").as("p"),
      TextAnalysis.redactPii(col("text")).as("r"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out(1L)._1 == 2L && out(1L)._2 == 1L && out(1L)._3 == 1L)
    assert(out(1L)._4 ==
      "mail [EMAIL] and [EMAIL], call [PHONE], see [URL] end")
    assert(out(2L) == ((0L, 0L, 0L, "clean text")))
  }

  // --- dedup ---------------------------------------------------------------
  test("charShingles produces distinct k-grams") {
    val r = docs((1L, "abcabc"))
      .select(Dedup.charShingles(col("text"), 3)).head().getSeq[String](0)
    assert(r.toSet == Set("abc", "bca", "cab"))
  }

  test("exact dedup keeps one row per normalized text") {
    val df = docs((1L, "Same text"), (2L, "same  text!"), (3L, "other"))
    val kept = Dedup.dedupExact(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    val groups = Dedup.exactDupGroups(df, "text", "doc_id").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("n_docs") == 2)
  }

  test("exact dedup keeps every NULL-text row (no fingerprint, no data loss)") {
    val df = docs((1L, "same"), (2L, "same"), (3L, null), (4L, null))
    val kept = Dedup.dedupExact(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L), s"null-text rows must all survive: $kept")
  }

  test("curateCorpus composes gates + dedup; survivors meet every gate") {
    import graft.ops.{Pipeline, TextAnalysis}
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val curated = Pipeline.curateCorpus(df, "text", "doc_id", minQuality = 0.55)
    val n = curated.count()
    assert(n > 0, "curation should keep some documents")
    assert(n < df.count(), "curation should drop some documents")
    // survivors all pass the gates and are fingerprint-unique
    val bad = curated
      .where(TextAnalysis.langId(col("text")) =!= "en" ||
        round(TextAnalysis.qualityScore(col("text")), 6) < 0.55)
      .count()
    assert(bad == 0)
    val fps = curated
      .select(TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .groupBy("fp").count().where(col("count") > 1).count()
    assert(fps == 0, "curated corpus must be exact-dedup'd")
  }

  test("minhash LSH finds the planted near-dup and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tonight")
    val far  = "completely unrelated content about databases and distributed query engines"
    val df   = docs((1L, base), (2L, near), (3L, far))
    val pairs = Dedup
      .minhashNearDups(df, "text", "doc_id", shingleK = 5, numHashes = 64,
        bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash near-dups equal brute-force ngram jaccard on the documents table") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = Dedup.minhashNearDups(df, "text", "doc_id", threshold = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(df, "text", "doc_id", threshold = 0.6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("simhash: near-identical texts collide within small hamming distance") {
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val near = base.replace("today", "tonight")
    val far  = "completely unrelated content about databases and distributed query engines"
    val df   = docs((1L, base), (2L, near), (3L, far))
    val pairs = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = 16)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  // --- similarity ----------------------------------------------------------
  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 2),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))

  test("cosine HOF: orthogonal = 0, identical = 1, opposite = -1") {
    val df = vecs(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(1f, 0f, 0f)), (4L, Seq(-1f, 0f, 0f)))
    val sims = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(sims((1L, 2L))) < 1e-12)
    assert(math.abs(sims((1L, 3L)) - 1.0) < 1e-12)
    assert(math.abs(sims((1L, 4L)) + 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine and excludes self") {
    val df = vecs(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(0.5f, 0.5f)))
    val top = Similarity
      .bruteForceTopK(df, df.where(col("vec_id") === 1), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 4L))
    assert(top.forall(_.getAs[Long]("query_id") == 1L))
  }

  test("LSH top-k recall vs brute force on real embeddings") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(df, queries, "vec_id", "embedding", 3,
        bits = 4, dim = 64, multiProbe = true)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // These embeddings are near-random (max pairwise cosine ~0.5), the hard
    // case for sign-bit LSH; with 4 bits + multi-probe recall is still
    // substantial and fully deterministic (fixed planes, fixed data).
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH top-3 recall at 4 bits + multiprobe: $recall")
    assert(recall >= 0.3, s"LSH recall too low: $recall")
  }

  test("multi-table lshTopK: dedup'd candidates, true cosines, recall >= one table") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 3)
    val exactPairs = exact.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactCos = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    def run(tables: Int) = Similarity
      .lshTopK(df, queries, "vec_id", "embedding", 3,
        bits = 4, dim = 64, multiProbe = true, nTables = tables)
      .collect()
    val one = run(1).map(r => (r.getLong(0), r.getLong(1))).toSet
    val four = run(4)
    val fourPairs = four.map(r => (r.getLong(0), r.getLong(1)))
    // no duplicate (query, neighbor) pairs survive the cross-table dedup
    assert(fourPairs.toSet.size == fourPairs.length)
    // per-query ranks are contiguous from 1
    four.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length).toSeq)
    }
    // reported cosines are the true cosines (spot-check via the exact map)
    four.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactCos.get(key).foreach(c =>
        assert(math.abs(r.getAs[Double]("cosine") - c) < 1e-12))
    }
    // more tables can only widen the candidate set → recall does not drop
    val r1 = (exactPairs & one).size.toDouble / exactPairs.size
    val r4 = (exactPairs & fourPairs.toSet).size.toDouble / exactPairs.size
    info(s"LSH recall: 1 table $r1, 4 tables $r4")
    assert(r4 >= r1, s"4-table recall $r4 below 1-table $r1")
  }

  test("embeddingNearDups: banded LSH finds planted near-dups with exact precision") {
    val base = (0 until 64).map(i => math.sin(i + 1).toFloat)
    def perturbed(eps: Float, at: Int): Seq[Float] = base.updated(at, base(at) + eps)
    val df = vecs(
      1L  -> base,
      2L  -> perturbed(0.01f, 3),
      3L  -> perturbed(-0.02f, 7),
      10L -> (0 until 64).map(i => math.cos(3 * i + 0.5).toFloat),
      11L -> (0 until 64).map(i => (((i * 37 + 11) % 13) - 6).toFloat))
    val rows = Similarity
      .embeddingNearDups(df, "vec_id", "embedding", threshold = 0.99)
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // candidates are exact-verified: no reported cosine can sit below threshold
    assert(rows.forall(_.getDouble(2) >= 0.99))
  }

  test("embeddingNearDups: a bucket above maxBucketSize is dropped, not exploded") {
    // identical vectors: every band's bucket holds the whole corpus
    val base = (0 until 64).map(i => math.sin(i + 1).toFloat)
    val df = vecs((1L to 50L).map(id => id -> base): _*)
    val capped = Similarity
      .embeddingNearDups(df, "vec_id", "embedding", threshold = 0.5, maxBucketSize = 10)
      .count()
    assert(capped == 0, "a hot bucket above the cap must be dropped")
    val uncapped = Similarity
      .embeddingNearDups(df, "vec_id", "embedding", threshold = 0.5, maxBucketSize = 1000)
      .count()
    assert(uncapped == 50L * 49 / 2)
  }

  test("nearDupBits widens with corpus size and stays in the single-long key") {
    assert(Similarity.nearDupBits(1000L) == 32)            // floor: 8 bits/band
    assert(Similarity.nearDupBits(1L << 40) == 60)          // ceiling: 15 bits/band
    assert(Similarity.nearDupBits(10_000_000L) > Similarity.nearDupBits(10_000L))
    assert(Similarity.nearDupBits(Long.MaxValue) < 64)
  }

  // --- multimodal ----------------------------------------------------------
  test("multimodal: format sniffing + stub feature extraction plumbing") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 1, 2, 3)
    val png  = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 9, 9)
    val rows = Seq(Row(1L, jpeg), Row(2L, png))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val meta = Multimodal.withMediaMeta(df, "payload")
      .select(col("doc_id"), col("media_meta.format"), col("media_meta.n_bytes"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(meta(1L) == ("jpeg", 7L))
    assert(meta(2L) == ("png", 6L))

    val feats = Multimodal.extractFeatures(df, "doc_id", "payload", dim = 4)
    val collected = feats.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(collected(1L).length == 4)
    assert(collected(1L).forall(f => f >= 0f && f < 1f))
    // deterministic: same payload → same features
    val again = Multimodal.extractFeatures(df, "doc_id", "payload", dim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(collected == again)
  }

  test("multimodal: MJPEG-in-AVI is a REAL perceptual decode (DCT round-trip)") {
    // constant-gray frames: JPEG's DC quantization may shift the value by
    // a level or two, never more — the round-trip error bound the gate's
    // /8 bucketing relies on
    for (g <- 4 to 252 by 24) {
      val jpeg = Multimodal.jpegEncodeGrayPixels(16, 16, Array.fill(256)(g))
      // a JPEG payload takes the real ImageIO decode path directly
      val d = Multimodal.decodeImage(jpeg).get
      assert(math.abs(d.meanLuma - g) < 3.0, s"gray $g decoded ${d.meanLuma}")
    }
    // container round-trip: 3 frames, every-2nd sampled
    val avi = Multimodal.encodeMjpegAvi(16, 16, Seq(60, 124, 212))
    val (n, frames) = Multimodal.decodeAviFrames(avi, frameStride = 2).get
    assert(n === 3)
    assert(frames.map(_._1) === Seq(0, 2))
    assert(frames.forall { case (_, w, h, _) => w == 16 && h == 16 })
    assert(math.abs(frames(0)._4 - 60) < 3.0)
    assert(math.abs(frames(1)._4 - 212) < 3.0)
    // non-AVI payloads refuse; truncation degrades, never throws
    assert(Multimodal.decodeAviFrames("not an avi".getBytes).isEmpty)
    val cut = java.util.Arrays.copyOf(avi, avi.length - 40)
    assert(Multimodal.decodeAviFrames(cut).isDefined)
  }

  test("multimodal: dHash survives the JPEG perceptual round-trip") {
    // a monotone 9x8 gradient keeps its difference structure through DCT
    // quantization — the perceptual-hash property dHash exists for
    val pix = Array.tabulate(72)(i => 20 + (i % 9) * 25)
    val jpegHash = Multimodal.imageDHash(
      Multimodal.jpegEncodeGrayPixels(9, 8, pix)).get
    val pngHash = Multimodal.imageDHash(
      Multimodal.encodeGrayPngPixels(9, 8, pix)).get
    assert(jpegHash === pngHash)
  }

  test("multimodal: aviFrames dataframe op samples frames; non-AVI rows null") {
    val avi = Multimodal.encodeMjpegAvi(16, 16, Seq(36, 100))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, avi), Row(2L, "junk".getBytes)), 2),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val rows = Multimodal.aviFrames(df, "doc_id", "payload")
      .orderBy("doc_id", "frame_idx").collect()
    assert(rows.length === 3)
    assert(rows(0).getInt(1) === 2 && rows(0).getInt(2) === 0)
    assert(math.abs(rows(0).getDouble(5) - 36) < 3.0)
    assert(math.abs(rows(1).getDouble(5) - 100) < 3.0)
    assert(rows(2).isNullAt(1))
  }

  test("multimodal: REAL PNG encode -> decode round-trip via javax.imageio") {
    val png = Multimodal.encodeGrayPng(width = 6, height = 4, gray = 77)
    // header-level metadata parses width/height straight from the IHDR bytes
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L, png)), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val meta = Multimodal.withMediaMeta(df, "payload")
      .select(col("media_meta.format"), col("media_meta.width"), col("media_meta.height"))
      .head()
    assert(meta.getString(0) == "png")
    assert(meta.getInt(1) == 6 && meta.getInt(2) == 4)

    // full decode recovers exact dimensions and the uniform gray level
    val d = Multimodal.decodeImage(png, dim = 4).get
    assert(d.width == 6 && d.height == 4)
    assert(d.meanLuma == 77.0, s"lossless PNG must decode the exact gray: ${d.meanLuma}")
    assert(d.features.forall(f => math.abs(f - 77f / 255f) < 1e-6f))

    // extractFeatures routes image payloads through the real decoder
    val feats = Multimodal.extractFeatures(df, "doc_id", "payload", dim = 4)
      .head().getSeq[Float](1)
    assert(feats.forall(f => math.abs(f - 77f / 255f) < 1e-6f))

    // non-image payloads still take the deterministic stub path
    assert(Multimodal.decodeImage("plain text".getBytes, dim = 4).isEmpty)
    // truncated PNG magic with garbage body: ImageIO rejects, no crash
    val broken = png.take(30)
    assert(Multimodal.decodeImage(broken, dim = 4).isEmpty)
  }

  test("multimodal: REAL resize preserves uniform gray and hits target dims") {
    val png = Multimodal.encodeGrayPng(width = 7, height = 5, gray = 130)
    val resized = Multimodal.resizeImage(png, 3, 2).get
    val d = Multimodal.decodeImage(resized, dim = 1).get
    assert(d.width == 3 && d.height == 2)
    assert(d.meanLuma == 130.0, s"bilinear scale of a uniform image must keep gray: ${d.meanLuma}")
    // undecodable payloads resize to None / null rows
    assert(Multimodal.resizeImage("not an image".getBytes, 3, 2).isEmpty)
    assert(Multimodal.resizeImage(null, 3, 2).isEmpty)
  }

  test("charProfile: hand-computed entropy, degenerate and empty inputs") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val rows = Seq("aabb", "zzzz", "Punct!!! only  ", "", "abcd")
      .toDF("text")
      .select(TextAnalysis.charProfile(col("text")).as("p"))
      .select(col("p.n_chars"), col("p.n_distinct"), col("p.top_frac"),
        col("p.entropy"))
      .collect()
    // "aabb": two chars at p=1/2 -> H = ln 2
    assert(rows(0).getLong(0) === 4L && rows(0).getLong(1) === 2L)
    assert(math.abs(rows(0).getDouble(3) - math.log(2)) < 1e-12)
    assert(rows(0).getDouble(2) === 0.5)
    // uniform single char -> zero entropy, top_frac 1
    assert(rows(1).getDouble(3) === 0.0 && rows(1).getDouble(2) === 1.0)
    // normalization first: "punct only" (10 chars incl space)
    assert(rows(2).getLong(0) === 10L)
    // empty normalized text -> NULL struct
    assert(rows(3).isNullAt(0) || rows(3).getAs[Any]("n_chars") == null)
    // 4 distinct at p=1/4 -> H = ln 4
    assert(math.abs(rows(4).getDouble(3) - math.log(4)) < 1e-12)
  }

  test("MaxLowEntropyFraction constraint pass / fail / empty-doc counting") {
    val d = docs(
      1L -> "a perfectly ordinary sentence with many different words inside",
      2L -> "aaaa aaaa aaaa aaaa", // entropy well below 1.5 nats
      3L -> "!!! ...") // normalizes to empty -> NULL profile -> low
    val req = graft.requirements.WithinRequirement.fromDataFrame(d, "docs")
    req.addMaxLowEntropyFractionConstraint("text", maxFraction = 0.7)
    req.addMaxLowEntropyFractionConstraint("text", maxFraction = 0.5,
      name = Some("tight"))
    val rs = req.test(spark)
    assert(rs(0).outcome, rs(0).failureMessage.toString)
    assert(!rs(1).outcome)
    assert(rs(1).failureMessage.exists(_.contains("entropy")))
  }

  test("charProfile matches a declarative explode recomputation (fuzz)") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val alphabet = "aabbbc d"
    val docs = (1 to 40).map { i =>
      (i.toLong,
        (1 to (1 + rnd.nextInt(60)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("id", "text")
    val fast = docs
      .select(col("id"), TextAnalysis.charProfile(col("text")).as("p"))
      .where(col("p").isNotNull)
      .select(col("id"), col("p.n_chars"), col("p.entropy"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val slow = docs
      .select(col("id"),
        explode(split(TextAnalysis.normalize(col("text")), "")).as("c"))
      .where(col("c") =!= "")
      .groupBy("id", "c").agg(count(lit(1)).as("n"))
      .groupBy("id").agg(sum("n").as("total"),
        collect_list(col("n")).as("ns"))
      .select(col("id"), col("total"),
        aggregate(col("ns"), lit(0.0), (acc, n) =>
          acc - (n.cast("double") / col("total")) *
            log(n.cast("double") / col("total"))).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(fast.keySet === slow.keySet)
    fast.foreach { case (id, (n, h)) =>
      assert(n === slow(id)._1)
      assert(math.abs(h - slow(id)._2) < 1e-9, s"doc $id: $h vs ${slow(id)._2}")
    }
  }

  test("multimodal: dHash bits follow the pooled gradient; invariances hold") {
    // 9x8 image, one pixel per cell: gray rises left-to-right -> every
    // right-of-left comparison is true -> all 64 bits set
    val rising = Array.tabulate(8 * 9)(i => (i % 9) * 20)
    val hUp = Multimodal.imageDHash(
      Multimodal.encodeGrayPngPixels(9, 8, rising)).get
    assert(hUp === -1L, s"all-ascending rows must set all 64 bits: $hUp")
    // falling gradient -> no bit set; constant image -> no bit set (strict >)
    val falling = Array.tabulate(8 * 9)(i => 200 - (i % 9) * 20)
    assert(Multimodal.imageDHash(
      Multimodal.encodeGrayPngPixels(9, 8, falling)).get === 0L)
    assert(Multimodal.imageDHash(Multimodal.encodeGrayPng(9, 8, 128)).get === 0L)
    // pooling: 18x16 (2x2 pixels per cell) with the same cell-level
    // pattern hashes identically to the 9x8 original
    val big = Array.tabulate(16 * 18)(i => ((i % 18) / 2) * 20)
    assert(Multimodal.imageDHash(
      Multimodal.encodeGrayPngPixels(18, 16, big)).get === hUp)
    // brightness shift keeps the hash (dHash is difference-based)
    val shifted = rising.map(_ + 13)
    assert(Multimodal.imageDHash(
      Multimodal.encodeGrayPngPixels(9, 8, shifted)).get === hUp)
    // too small for the 9x8 grid -> None; garbage -> None
    assert(Multimodal.imageDHash(Multimodal.encodeGrayPng(4, 4, 10)).isEmpty)
    assert(Multimodal.imageDHash("not an image".getBytes).isEmpty)
  }

  test("multimodal: imageNearDups pairs near-identical images only") {
    val rnd = new scala.util.Random(77)
    val base = Array.tabulate(8 * 9)(_ => rnd.nextInt(256))
    // one-cell tweak: at most a couple of bits flip
    val tweaked = base.clone(); tweaked(40) = (base(40) + 60) % 256
    val noise = Array.tabulate(8 * 9)(_ => rnd.nextInt(256))
    val rows = Seq(
      (1L, Multimodal.encodeGrayPngPixels(9, 8, base)),
      (2L, Multimodal.encodeGrayPngPixels(9, 8, tweaked)),
      (3L, Multimodal.encodeGrayPngPixels(9, 8, noise)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val pairs = Multimodal.imageNearDups(df, "doc_id", "payload", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-identical pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"random image must not pair: $pairs")
  }

  test("multimodal: REAL WAV encode -> decode round-trip (RIFF/PCM byte parse)") {
    // two-level square wave: +300 / -400 alternating, 12 samples
    val samples =
      Array.tabulate(12)(i => if (i % 2 == 0) 300.toShort else (-400).toShort)
    val wav = Multimodal.encodePcmWav(sampleRate = 8000, channels = 1, samples)
    val d = Multimodal.decodeWav(wav, dim = 4).get
    assert(d.sampleRate == 8000 && d.channels == 1 && d.nFrames == 12)
    assert(d.durationMs == 12 * 1000.0 / 8000)
    assert(d.meanAbs == 350.0)
    assert(d.rms == math.sqrt((300.0 * 300 + 400.0 * 400) / 2))
    assert(d.peak == 400)

    // header fast path: little-endian column parse of rate/channels
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5L, wav)), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val meta = Multimodal.withMediaMeta(df, "payload")
      .select(
        col("media_meta.format"),
        col("media_meta.sample_rate"),
        col("media_meta.channels"))
      .head()
    assert(meta.getString(0) == "riff-wav")
    assert(meta.getInt(1) == 8000 && meta.getInt(2) == 1)

    // extractFeatures routes WAV payloads through the real decoder: every
    // window holds the same +300/-400 mix, so each windowed RMS equals the
    // clip RMS
    val feats = Multimodal.extractFeatures(df, "doc_id", "payload", dim = 2)
      .head().getSeq[Float](1)
    val expect = (math.sqrt((300.0 * 300 + 400.0 * 400) / 2) / 32768.0).toFloat
    assert(feats.length == 2)
    assert(feats.forall(f => math.abs(f - expect) < 1e-6f))

    // stereo: frames = samples / channels
    val st = Multimodal.decodeWav(
      Multimodal.encodePcmWav(sampleRate = 8000, channels = 2, samples), dim = 1).get
    assert(st.channels == 2 && st.nFrames == 6 && st.durationMs == 6 * 1000.0 / 8000)

    // chunk walk: an odd-size LIST chunk (with its RIFF pad byte) before
    // fmt/data still parses to the identical stats
    val list = "LIST".getBytes ++ Array[Byte](5, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 4, 5) ++ Array[Byte](0)
    val spliced = wav.take(12) ++ list ++ wav.drop(12)
    assert(Multimodal.decodeWav(spliced, dim = 1).get.rms == d.rms)
    // ...but the canonical-layout header fast path keeps nulls for it
    // (fmt is not at byte 13), instead of parsing LIST bytes as a rate
    val splicedMeta = Multimodal.withMediaMeta(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(6L, spliced)), 1),
        StructType(Seq(
          StructField("doc_id", LongType),
          StructField("payload", BinaryType)))),
      "payload")
      .select(col("media_meta.format"), col("media_meta.sample_rate"))
      .head()
    assert(splicedMeta.getString(0) == "riff-wav" && splicedMeta.isNullAt(1))

    // degradation: truncation clamps the data chunk instead of throwing
    val truncated = Multimodal.decodeWav(wav.take(50), dim = 1).get
    assert(truncated.nFrames == 3)
    // corrupt / non-WAV / null payloads decode to None, never a throw
    assert(Multimodal.decodeWav("RIFFnope".getBytes, dim = 1).isEmpty)
    assert(Multimodal.decodeWav("plain text".getBytes, dim = 1).isEmpty)
    assert(Multimodal.decodeWav(null, dim = 1).isEmpty)

    // adversarial chunk size near 2^32 must not overflow the walk cursor
    // into a negative array index: a LIST chunk declaring 0xFFFFFFF0 bytes
    // simply ends the walk (no fmt/data found -> None, no throw)
    val evil = wav.take(12) ++ "LIST".getBytes ++
      Array[Byte](0xF0.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte) ++
      wav.drop(12)
    assert(Multimodal.decodeWav(evil, dim = 1).isEmpty)
  }

  test("multimodal: G.711 mu-law/A-law companding matches the ITU-T tables") {
    import Multimodal._
    // spec spot values: mu-law 0xFF = +0, 0x7F = -0, 0x00 = -32124,
    // 0x80 = +32124; A-law 0xD5 = +8, 0x55 = -8, 0xAA = +32256, 0x2A = -32256
    assert(mulawDecode(0xFF.toByte) == 0 && mulawDecode(0x7F.toByte) == 0)
    assert(mulawDecode(0x00.toByte) == -32124 && mulawDecode(0x80.toByte) == 32124)
    assert(alawDecode(0xD5.toByte) == 8 && alawDecode(0x55.toByte) == -8)
    assert(alawDecode(0xAA.toByte) == 32256 && alawDecode(0x2A.toByte) == -32256)
    assert(mulawEncode(0) == 0xFF.toByte)
    // every code word survives a decode -> encode -> decode cycle (the
    // codec's idempotence on its own quantization lattice, ALL 256 bytes —
    // covers both negative-zero representations)
    (0 until 256).foreach { v =>
      val b = v.toByte
      assert(mulawDecode(mulawEncode(mulawDecode(b))) == mulawDecode(b),
        s"mu-law byte $v")
      assert(alawDecode(alawEncode(alawDecode(b))) == alawDecode(b),
        s"A-law byte $v")
    }
    // encode quantization error is bounded by the segment step size
    Seq(-30000, -5000, -347, -8, 0, 7, 1000, 20000, 32635).foreach { s =>
      val muErr = math.abs(mulawDecode(mulawEncode(s.toShort)) - s)
      val aErr = math.abs(alawDecode(alawEncode(s.toShort)) - s)
      assert(muErr <= math.max(4, math.abs(s) / 16 + 1), s"mu-law err $s: $muErr")
      assert(aErr <= math.max(8, math.abs(s) / 16 + 1), s"A-law err $s: $aErr")
    }

    // WAV format-7/6 payloads take the REAL G.711 path through decodeWav:
    // stats equal a direct pass over the expanded samples
    val bytes = Array.tabulate[Byte](40)(i => ((i * 37 + 11) % 256).toByte)
    for (mu <- Seq(true, false)) {
      val wav = encodeG711Wav(8000, 1, mulaw = mu, bytes)
      val d = decodeWav(wav, dim = 1).get
      val lin = bytes.map(b => (if (mu) mulawDecode(b) else alawDecode(b)).toInt)
      assert(d.sampleRate == 8000 && d.channels == 1 && d.nFrames == 40)
      assert(d.peak == lin.map(math.abs).max)
      assert(d.meanAbs == lin.map(s => math.abs(s).toLong).sum.toDouble / 40)
      assert(d.rms == math.sqrt(lin.map(s => s.toLong * s).sum.toDouble / 40))
    }
    // a truncated G.711 data chunk clamps byte-wise (1 byte = 1 sample;
    // the canonical G.711 WAV header is 46 bytes)
    val clipped = decodeWav(encodeG711Wav(8000, 1, mulaw = true, bytes).take(56), dim = 1).get
    assert(clipped.nFrames == 10)
  }

  test("multimodal: REAL AIFF encode -> decode round-trip (big-endian parse)") {
    import Multimodal._
    // 80-bit extended float: exact for every integer rate audio uses
    Seq(1L, 8000L, 11025L, 22050L, 44100L, 48000L, 96000L).foreach { r =>
      assert(extendedToLong(longToExtended(r), 0) == r, s"rate $r")
    }
    val samples =
      Array.tabulate(12)(i => if (i % 2 == 0) 300.toShort else (-400).toShort)
    val aiff = encodeAiff(sampleRate = 44100, channels = 1, samples)
    val d = decodeAiff(aiff, dim = 4).get
    assert(d.sampleRate == 44100 && d.channels == 1 && d.nFrames == 12)
    assert(d.meanAbs == 350.0 && d.peak == 400)
    assert(d.rms == math.sqrt((300.0 * 300 + 400.0 * 400) / 2))
    // identical stats to the same samples through the little-endian WAV path
    val viaWav = decodeWav(encodePcmWav(44100, 1, samples), dim = 4).get
    assert(viaWav.rms == d.rms && viaWav.features.sameElements(d.features))
    // decodeAudios falls through WAV -> AIFF
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L, aiff)), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val row = Multimodal.decodeAudios(df, "doc_id", "payload").head()
    assert(row.getInt(1) == 44100 && row.getInt(3) == 12 && row.getInt(7) == 400)
    // degradation: truncated SSND clamps; garbage/null -> None, never a throw
    assert(decodeAiff(aiff.take(aiff.length - 8), dim = 1).get.nFrames == 8)
    assert(decodeAiff("FORMnope".getBytes, dim = 1).isEmpty)
    assert(decodeAiff(null, dim = 1).isEmpty)
    // stereo frame count
    val st = decodeAiff(encodeAiff(8000, 2, samples), dim = 1).get
    assert(st.channels == 2 && st.nFrames == 6)
  }

  test("multimodal: REAL MP4 container metadata parse (ISO-BMFF box walk)") {
    import Multimodal._
    val mp4 = encodeMinimalMp4(
      timescale = 900, duration = 1800, tracks = Seq((640, 360), (640, 360)))
    val m = parseMp4Meta(mp4).get
    assert(m.majorBrand == "isom" && m.timescale == 900 && m.duration == 1800)
    assert(m.durationMs == 2000.0 && m.nTracks == 2)
    assert(m.width == 640 && m.height == 360)
    // zero-track file still parses (mvhd alone carries the duration)
    val noTracks = parseMp4Meta(encodeMinimalMp4(600, 0, Seq.empty)).get
    assert(noTracks.nTracks == 0 && noTracks.duration == 0 && noTracks.width == 0)
    // degradation: truncation mid-moov, garbage, and null never throw
    assert(parseMp4Meta(mp4.take(40)).isEmpty)
    assert(parseMp4Meta("not a video".getBytes).isEmpty)
    assert(parseMp4Meta(null).isEmpty)
    // batch op yields nulls for non-MP4 rows, fields for real ones
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, mp4), Row(2L, "junk".getBytes)), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val rows = Multimodal.videoMeta(df, "doc_id", "payload")
      .orderBy("doc_id").collect()
    assert(rows(0).getString(1) == "isom" && rows(0).getInt(6) == 640)
    assert(rows(1).isNullAt(1))
    // header sniff classifies the container without any parse
    val fmt = Multimodal.withMediaMeta(df, "payload")
      .orderBy("doc_id").select(col("media_meta.format")).head().getString(0)
    assert(fmt == "mp4")
  }

  test("multimodal: REAL FLAC STREAMINFO parse (bit-packed header fields)") {
    import Multimodal._
    // bit-boundary exercise: 20-bit rate, 3-bit channels at max, 5-bit bps,
    // 36-bit total crossing the 32-bit line
    val flac = encodeFlacHeader(
      sampleRate = 96000, channels = 8, bitsPerSample = 24,
      totalSamples = (5L << 32) + 123)
    val m = parseFlacMeta(flac).get
    assert(m.sampleRate == 96000 && m.channels == 8 && m.bitsPerSample == 24)
    assert(m.totalSamples == (5L << 32) + 123)
    assert(m.durationMs == ((5L << 32) + 123) * 1000.0 / 96000)
    // low-boundary fields round-trip too (mono 8-bit, zero samples)
    val lo = parseFlacMeta(encodeFlacHeader(8000, 1, 8, 0L)).get
    assert(lo.sampleRate == 8000 && lo.channels == 1 &&
      lo.bitsPerSample == 8 && lo.totalSamples == 0L)
    // degradation: truncation mid-STREAMINFO, garbage, and null never throw
    assert(parseFlacMeta(flac.take(20)).isEmpty)
    assert(parseFlacMeta("not audio at all".getBytes).isEmpty)
    assert(parseFlacMeta(null).isEmpty)
    // batch op yields nulls for non-FLAC rows, fields for real ones
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, flac), Row(2L, "junk".getBytes)), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val rows = Multimodal.flacMeta(df, "doc_id", "payload")
      .orderBy("doc_id").collect()
    assert(rows(0).getInt(1) == 96000 && rows(0).getLong(4) == (5L << 32) + 123)
    assert(rows(1).isNullAt(1))
    // column-function fast path reads rate/channels at scan speed, no decode
    val meta = Multimodal.withMediaMeta(df, "payload")
      .orderBy("doc_id").select("media_meta.*").collect()
    assert(meta(0).getString(0) == "flac")
    assert(meta(0).getInt(3) == 96000 && meta(0).getInt(4) == 8)
    assert(meta(1).getString(0) == "unknown" && meta(1).isNullAt(3))
  }

  test("multimodal: REAL MP3 frame-header parse (ID3 skip + frame walk)") {
    import Multimodal._
    // MPEG1 Layer III, 128 kbps (idx 9), 44.1 kHz (idx 0), stereo, ID3 tag
    val mp3 = encodeMp3(mpeg1 = true, bitrateIdx = 9, rateIdx = 0,
      padding = false, mono = false, nFrames = 7, id3Size = 33)
    val m = parseMp3Meta(mp3).get
    assert(m.version == "mpeg1" && m.sampleRate == 44100 &&
      m.bitrateKbps == 128 && m.channels == 2 && m.nFrames == 7)
    assert(m.durationMs == 7L * 1152 * 1000.0 / 44100)
    // MPEG2 table, padding bit changes frame stride but not the count
    val lo = parseMp3Meta(encodeMp3(mpeg1 = false, bitrateIdx = 3,
      rateIdx = 2, padding = true, mono = true, nFrames = 3, id3Size = 0)).get
    assert(lo.version == "mpeg2" && lo.sampleRate == 16000 &&
      lo.bitrateKbps == 24 && lo.channels == 1 && lo.nFrames == 3)
    // degradation: truncation mid-frame keeps the complete-frame count
    assert(parseMp3Meta(mp3.dropRight(10)).get.nFrames == 6)
    assert(parseMp3Meta(mp3.take(20)).isEmpty) // ID3 only, no frame
    assert(parseMp3Meta("not audio".getBytes).isEmpty)
    assert(parseMp3Meta(null).isEmpty)
    // batch op yields nulls for non-MP3 rows, fields for real ones
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, mp3), Row(2L, "junk".getBytes)), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val rows = Multimodal.mp3Meta(df, "doc_id", "payload")
      .orderBy("doc_id").collect()
    assert(rows(0).getString(1) == "mpeg1" && rows(0).getInt(5) == 7)
    assert(rows(1).isNullAt(1))
    // sniff classifies by ID3 magic and by bare frame sync
    val bare = encodeMp3(mpeg1 = true, bitrateIdx = 9, rateIdx = 0,
      padding = false, mono = false, nFrames = 1, id3Size = 0)
    val df2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, mp3), Row(2L, bare)), 1),
      df.schema)
    val fmts = Multimodal.withMediaMeta(df2, "payload")
      .orderBy("doc_id").select(col("media_meta.format")).collect()
    assert(fmts(0).getString(0) == "mp3" && fmts(1).getString(0) == "mp3")
  }

  test("multimodal: MP3 Xing/Info/VBRI VBR header parse") {
    import Multimodal._
    // Xing in an MPEG1 stereo first frame: declared count differs from the
    // physical walk — both must surface
    val xing = encodeMp3(mpeg1 = true, bitrateIdx = 9, rateIdx = 0,
      padding = false, mono = false, nFrames = 4, id3Size = 21,
      vbrTag = "xing", vbrFrames = 1234)
    val mx = parseMp3Meta(xing).get
    assert(mx.vbrMethod.contains("xing") && mx.vbrFrames.contains(1234))
    assert(mx.nFrames == 4) // physical frames unaffected by the tag
    assert(mx.vbrDurationMs.get == 1234L * 1152 * 1000.0 / 44100)
    // Info = CBR marker, same layout; MPEG2 mono has the 9-byte side info
    val info = encodeMp3(mpeg1 = false, bitrateIdx = 8, rateIdx = 1,
      padding = false, mono = true, nFrames = 2, id3Size = 0,
      vbrTag = "info", vbrFrames = 55)
    val mi = parseMp3Meta(info).get
    assert(mi.vbrMethod.contains("info") && mi.vbrFrames.contains(55))
    assert(mi.vbrDurationMs.get == 55L * 576 * 1000.0 / 24000)
    // VBRI sits at the fixed +36 offset regardless of side-info size
    val vbri = encodeMp3(mpeg1 = true, bitrateIdx = 5, rateIdx = 2,
      padding = true, mono = true, nFrames = 3, id3Size = 7,
      vbrTag = "vbri", vbrFrames = 99)
    val mv = parseMp3Meta(vbri).get
    assert(mv.vbrMethod.contains("vbri") && mv.vbrFrames.contains(99))
    // untagged payloads carry no VBR fields
    val plain = parseMp3Meta(encodeMp3(mpeg1 = true, bitrateIdx = 9,
      rateIdx = 0, padding = false, mono = false, nFrames = 2, id3Size = 0)).get
    assert(plain.vbrMethod.isEmpty && plain.vbrFrames.isEmpty &&
      plain.vbrDurationMs.isEmpty)
    // a truncated declared-count field degrades to method-only, no throw
    val cut = xing.take(21 + 10 + 4 + 32 + 6) // mid-flags
    assert(parseMp3Meta(cut).isEmpty || parseMp3Meta(cut).get.vbrFrames.isEmpty)
  }

  test("multimodal: sampleChunks yields every stride-th real binary slice") {
    val payload = (0 until 10).map(_.toByte).toArray // 10 bytes, chunk 2 → 5 chunks
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, payload)), 1),
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val chunks = df
      .select(Multimodal.sampleChunks(col("payload"), chunkBytes = 2, stride = 2).as("c"))
      .head().getSeq[Array[Byte]](0)
    // chunks 0, 2, 4 of [0..9] → [0,1], [4,5], [8,9]
    assert(chunks.length == 3)
    assert(chunks(0).toSeq == Seq[Byte](0, 1))
    assert(chunks(1).toSeq == Seq[Byte](4, 5))
    assert(chunks(2).toSeq == Seq[Byte](8, 9))
    // ragged tail: 5 bytes, chunk 2 → 3 chunks, last is short
    val ragged = df.select(
      Multimodal.sampleChunks(substring(col("payload"), 1, 5), 2, 1).as("c"))
      .head().getSeq[Array[Byte]](0)
    assert(ragged.length == 3)
    assert(ragged(2).toSeq == Seq[Byte](4))
  }
}

/** IVF coarse-quantizer ANN tests. */
class IvfSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._
  import graft.ops.Similarity

  test("IVF on an empty corpus returns a typed empty frame, no crash") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val empty = df.where(org.apache.spark.sql.functions.lit(false))
    val res = Similarity.ivfTopK(empty, df.limit(2), "vec_id", "embedding", 3)
    assert(res.columns.toSeq == Seq("query_id", "neighbor_id", "cosine", "rank"))
    assert(res.count() == 0)
  }

  test("IVF top-k recall vs brute force on real embeddings") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(df, queries, "vec_id", "embedding", 3,
        nCentroids = 16, nProbe = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF top-3 recall at 16 centroids / 8 probes: $recall")
    assert(recall >= 0.3, s"IVF recall too low: $recall")
    // every returned neighbor must be ranked correctly within its candidates
    assert(ivf.nonEmpty)
  }

  test("IMI: exhaustive product-cell probing equals brute force; empty corpus typed") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = df.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 cells/half -> 16 product cells; probing all 16 with a full
    // shortlist covers every corpus vector -> recall must be exactly 1
    val imi = Similarity.imiTopK(df, queries, "vec_id", "embedding", 3,
        cellsPerHalf = 4, nProbeCells = 16, halfShortlist = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(imi == exact, s"exhaustive IMI must equal brute force")
    // bounded probing still returns k rows per query and real neighbors
    val bounded = Similarity.imiTopK(df, queries, "vec_id", "embedding", 3,
        cellsPerHalf = 4, nProbeCells = 4, halfShortlist = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & bounded).size.toDouble / exact.size
    info(s"IMI top-3 recall at 4 of 16 cells: $recall")
    assert(bounded.nonEmpty && recall > 0.0)
    val empty = df.where(lit(false))
    val res = Similarity.imiTopK(empty, queries, "vec_id", "embedding", 3)
    assert(res.columns.toSeq == Seq("query_id", "neighbor_id", "cosine", "rank"))
    assert(res.count() == 0)
  }
}

/** SemDeDup-style within-cluster semantic near-dup tests. */
class SemanticDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._
  import graft.ops.Similarity

  private def vecs(rows: (Long, Seq[Float])*): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 2),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))) 

  test("semanticNearDups: pairs form only within a cluster, verified by exact cosine") {
    // ids 1 and 2 seed the two clusters (stride-1 sample, first 2 by id);
    // group A hugs e1, group B hugs e2 — cross-group cosine ~ 0
    val df = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f),
      3L -> Seq(0.99f, 0.1f, 0f),
      4L -> Seq(0.98f, 0.15f, 0f),
      5L -> Seq(0.1f, 0.99f, 0f),
      6L -> Seq(0.05f, 0.98f, 0f))
    val pairs = Similarity
      .semanticNearDups(df, "vec_id", "embedding", threshold = 0.9,
        nClusters = 2, lloydIters = 0, corpusSize = Some(1))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    // within-cluster high-cosine pairs present
    assert(ids.contains((1L, 3L)) && ids.contains((1L, 4L)) && ids.contains((3L, 4L)))
    assert(ids.contains((2L, 5L)) && ids.contains((2L, 6L)) && ids.contains((5L, 6L)))
    // never a cross-cluster pair (group A = {1,3,4}, group B = {2,5,6})
    val groupA = Set(1L, 3L, 4L)
    assert(pairs.forall { case (a, b, _, _) => groupA.contains(a) == groupA.contains(b) })
    // cosines are genuine (all above the threshold, none above 1)
    assert(pairs.forall(p => p._4 >= 0.9 && p._4 <= 1.0 + 1e-9))
  }

  test("semanticNearDups: a cluster above maxClusterSize is dropped, not exploded") {
    // one tight 4-member cluster around e1, far-away 2-member cluster at e2
    val df = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f),
      3L -> Seq(0.99f, 0.01f, 0f),
      4L -> Seq(0.98f, 0.02f, 0f),
      5L -> Seq(0.97f, 0.03f, 0f),
      6L -> Seq(0.01f, 0.99f, 0f))
    val pairs = Similarity
      .semanticNearDups(df, "vec_id", "embedding", threshold = 0.5,
        nClusters = 2, lloydIters = 0, maxClusterSize = 3, corpusSize = Some(1))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // the e1 cluster has 4 members (> cap 3) → contributes nothing;
    // the e2 cluster (ids 2, 6) survives
    assert(pairs == Set((2L, 6L)))
  }

  test("semanticNearDups: broadcast-join assignment path is bit-identical to literals") {
    val df = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f),
      3L -> Seq(0.99f, 0.1f, 0f),
      4L -> Seq(0.98f, 0.15f, 0f),
      5L -> Seq(0.1f, 0.99f, 0f),
      6L -> Seq(0.05f, 0.98f, 0f))
    // the NearestCellsCos kernel against the literal argmax reference on
    // the assigned (id, cluster, primary) multiset, at one and two probes
    for (probes <- Seq(1, 2)) {
      val (kernel, literal) = SemanticAssignReference.semanticAssignments(
        df, "vec_id", "embedding", nClusters = 2, probes = probes,
        corpusSize = Some(1))
      assert(kernel.values.sum == 6 * probes)
      assert(kernel == literal, s"probes = $probes")
    }
  }

  test("semanticNearDups: lloyd refinement still finds planted near-dups") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val refined = Similarity
      .semanticNearDups(df, "vec_id", "embedding", threshold = 0.35,
        nClusters = 8, lloydIters = 2)
      .select("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sanity: pair set is symmetric-free (id1 < id2) and non-degenerate
    assert(refined.forall { case (a, b) => a < b })
    info(s"semantic near-dups with lloyd refinement: ${refined.size} pairs")
  }

  test("semanticNearDups: empty corpus returns a typed empty frame") {
    val df = vecs(1L -> Seq(1f, 0f)).where(lit(false))
    val res = Similarity.semanticNearDups(df, "vec_id", "embedding", 0.5)
    assert(res.columns.toSeq == Seq("id1", "id2", "cluster", "cosine"))
    assert(res.count() == 0)
  }

  test("scriptMix profiles Unicode scripts; foreign-script constraint gates") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val df = Seq(
      (1L, "hello latin world"),
      (2L, "привет мир"),
      (3L, "hello мир 你好"),
      (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val mixed = TextAnalysis.scriptMix(df, "text")
      .select("doc_id", "n_script_chars", "latin_frac", "cyrillic_frac", "han_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(mixed(1L)._2 == 1.0 && mixed(1L)._3 == 0.0)
    assert(mixed(2L)._3 == 1.0)
    // doc 3: 5 latin + 3 cyrillic + 2 han = 10 script chars
    assert(mixed(3L)._1 == 10L)
    assert(mixed(3L)._2 == 0.5 && mixed(3L)._3 == 0.3 && mixed(3L)._4 == 0.2)
    assert(mixed(4L)._1 == 0L && mixed(4L)._2 == 0.0)
    assert(mixed(5L)._1 == 0L)

    import graft.requirements.WithinRequirement
    val ok = WithinRequirement.fromDataFrame(df, "corpus")
    ok.addMaxForeignScriptFractionConstraint(
      "text", Seq("Latin"), maxFraction = 0.5)
    assert(ok.test(spark).head.outcome)
    val bad = WithinRequirement.fromDataFrame(df, "corpus")
    bad.addMaxForeignScriptFractionConstraint(
      "text", Seq("Latin"), maxFraction = 0.1)
    val res = bad.test(spark).head
    assert(!res.outcome)
    assert(res.failureMessage.exists(_.contains("script")))
  }
}
