package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextNative
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

class TextNativeSpec extends SparkSpec {
  import spark.implicits._

  /** Reference FNV-1a 3-shingle hasher (the documented contract). */
  private def refShingles(s: String, n: Int): Set[Long] = {
    val toks = s.toLowerCase.split("\\s+", -1)
    if (toks.length < n) Set.empty
    else (0 to toks.length - n).map { i =>
      var h = 0xcbf29ce484222325L
      (0 until n).foreach { k =>
        toks(i + k).foreach { c => h ^= c; h *= 0x100000001b3L }
        h ^= ' '; h *= 0x100000001b3L
      }
      h
    }.toSet
  }

  test("native shingle_hash64 matches the reference FNV-1a set") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "Mixed CASE Words and  double  spaces",
      "one two", // shorter than n=3 -> empty
      "exactly three tokens",
      "ends with a space ") // trailing empty token participates in shingles
    val got = texts.toDF("text")
      .select(TextFunctions.shingleHashes(col("text"), 3).as("hs"))
      .as[Array[Long]].collect()
    texts.zip(got).foreach { case (t, hs) =>
      assert(hs.toSet == refShingles(t, 3), s"mismatch for '$t'")
      assert(hs.length == hs.toSet.size, "shingle hashes must be distinct")
    }
  }

  test("null text hashes to null; explode treats it like the empty set") {
    val df = Seq((0L, "a b c d"), (1L, null)).toDF("doc_id", "text")
    val exploded = df
      .select(col("doc_id"), explode(TextFunctions.shingleHashes(col("text"), 3)).as("s"))
    assert(exploded.select("doc_id").distinct().as[Long].collect().toSet == Set(0L))
  }

  test("native minhash signature equals the grouped min(hash(s,i)) form") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog while the cat sleeps"),
      (1L, "another document with sufficiently many tokens to shingle properly"))
      .toDF("doc_id", "text")
    val hashed = docs.select(col("doc_id"),
      TextFunctions.shingleHashes(col("text"), 3).as("hs"))
    val native = hashed
      .select(col("doc_id"), TextNative.minhashSignature(col("hs"), 64).as("sig"))
      .orderBy("doc_id").as[(Long, Array[Long])].collect()
    val grouped = operators.NearDedup.minhashSignatures(
      hashed.select(col("doc_id"), explode(col("hs")).as("s")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), (1 to 64).map(i => r.getLong(i)).toArray))
    assert(native.length == grouped.length)
    native.zip(grouped).foreach { case ((di, sn), (dg, sg)) =>
      assert(di == dg && sn.sameElements(sg),
        s"signature mismatch for doc $di")
    }
  }

  test("minhash signature of an empty shingle set is null (no banding)") {
    val df = Seq((0L, "too short")).toDF("doc_id", "text")
    val sig = df.select(TextNative.minhashSignature(
      TextFunctions.shingleHashes(col("text"), 3), 64).as("sig"))
    assert(sig.where(col("sig").isNotNull).count() == 0)
  }

  /** Reference SimHash (the documented contract: XXH64(utf8, seed 42) per
    * distinct token, tf-weighted bit sums, sign threshold at >= 0).
    */
  private def refSimhash(text: String): Option[Long] = {
    val tf = text.toLowerCase.split("\\s+", -1).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length).toMap
    if (tf.isEmpty) None
    else {
      val sums = new Array[Long](64)
      tf.foreach { case (w, n) =>
        val bytes = w.getBytes("UTF-8")
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        (0 until 64).foreach { b =>
          sums(b) += (if (((h >>> b) & 1L) == 1L) n.toLong else -n.toLong)
        }
      }
      Some((0 until 64).foldLeft(0L)((sig, b) =>
        if (sums(b) >= 0) sig | (1L << b) else sig))
    }
  }

  test("native simhash64 matches the reference bit-for-bit; empty/null -> null") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "repeated repeated repeated words words matter",
      "Mixed CASE and  double  spaces",
      "x",
      "   ", // whitespace only -> no tokens -> null
      null)
    val got = texts.toDF("text")
      .select(TextNative.simHash64(col("text")).as("h"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    texts.zip(got).foreach { case (t, h) =>
      val want = Option(t).flatMap(refSimhash)
      assert(h == want, s"simhash mismatch for '$t': got $h want $want")
    }
  }

  test("token_repetition matches the explode/groupBy declarative form") {
    val texts = Seq(
      (0L, "the quick brown fox the quick brown cat"),
      (1L, "a a a a a"),                    // one token repeated
      (2L, "all distinct tokens right here"),
      (3L, "x"),                            // single token: no bigrams
      (4L, "Go go GO stop go go"),          // case folding + hot bigram
      (5L, "trailing space "),              // split keeps the trailing empty
      (6L, "a b a b "))                     // trailing empty joins a bigram
    val df = texts.toDF("doc_id", "text")
    val native = df
      .select(col("doc_id"), TextNative.tokenRepetition(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_tokens"), col("st.n_distinct"),
        col("st.top_token_cnt"), col("st.top_bigram_cnt"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    texts.zip(native).foreach { case ((id, t), (gid, n, nd, tt, tb)) =>
      val toks = t.toLowerCase.split("\\s+", -1).toSeq
      val bigrams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      assert(gid == id)
      assert(n == toks.length, s"n_tokens for doc $id")
      assert(nd == toks.distinct.length, s"n_distinct for doc $id")
      assert(tt == toks.groupBy(identity).values.map(_.length).max, s"top_token for doc $id")
      val wantTb = if (bigrams.isEmpty) 0L
        else bigrams.groupBy(identity).values.map(_.length).max.toLong
      assert(tb == wantTb, s"top_bigram for doc $id")
    }
  }

  test("token_repetition is row-local (zero shuffles) and codegen'd") {
    val df = Tables.documents(spark, sf0001)
      .select(col("doc_id"), TextNative.tokenRepetition(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_tokens"), col("st.top_bigram_cnt"))
    df.collect()
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty, "token_repetition must not shuffle")
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "token_repetition must run inside whole-stage codegen")
  }

  test("simhash plan is native: no ScalaUDF, stays in codegen") {
    val docs = Tables.documents(spark, sf0001)
    val df = operators.NearDedup.simhashSignatures(docs)
    val analyzed = df.queryExecution.analyzed
    val udfs = analyzed.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
    })
    assert(udfs.isEmpty, s"simhash must not be a Scala UDF:\n$analyzed")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "simhash map must run inside whole-stage codegen")
  }

  test("native tokens lowercase with Locale.ROOT under a tr default locale") {
    def hashes(t: String) = Seq(t).toDF("text")
      .select(TextNative.shingleHash64(col("text"), 1)).as[Array[Long]].head().toSet
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      assert(hashes("TITLE IS x") == hashes("title is x"))
    } finally java.util.Locale.setDefault(saved)
  }

  /** The interpreted expression form language ID had before the native
    * pass — the one reference PredLang is pinned to: one
    * `filter(tokens, isInCollection)` hit count per language, argmax by
    * a when chain over `greatest`.
    */
  private def predLangReference(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    val counts = TextFunctions.LangProfiles.map { case (l, ws) =>
      l -> size(filter(toks, t => t.isInCollection(ws)))
    }
    val best = greatest(counts.map(_._2): _*)
    when(best <= 0, lit("und")).otherwise(
      counts.foldRight(lit("und")) { case ((l, c), els) =>
        when(c === best, lit(l)).otherwise(els)
      })
  }

  /** (text, native, reference) for every text where the two differ. */
  private def predLangMismatches(texts: Seq[String]) =
    spark.sparkContext.parallelize(texts, 2).toDF("text")
      .select(col("text"), operators.TextOps.predLang(col("text")),
        predLangReference(col("text")))
      .as[(String, String, String)].collect().filter(r => r._2 != r._3)

  test("pred_lang: null and empty text are 'und', as in the reference") {
    // a local Seq folds into a LocalRelation: this runs the interpreted
    // eval path; the property below runs the generated code
    val got = Seq[String](null, "", " \t").toDF("text")
      .select(operators.TextOps.predLang(col("text")), predLangReference(col("text")))
      .as[(String, String)].collect()
    assert(got.toSeq == Seq.fill(3)(("und", "und")))
  }

  test("pred_lang: no non-ASCII code point lowercases to profile letters only") {
    // why byte-level matching is exact: a token with a non-ASCII code
    // point never lowercases to a profile word, on either lower path
    val letters = TextFunctions.LangProfiles.flatMap(_._2).flatten.toSet
    val bad = (0x80 to Character.MAX_CODE_POINT).filter { cp =>
      val s = new String(Character.toChars(cp))
      Seq(s.toLowerCase(java.util.Locale.ROOT),
        com.ibm.icu.lang.UCharacter.toLowerCase(com.ibm.icu.util.ULocale.ROOT, s))
        .exists(_.forall(letters))
    }
    assert(bad.isEmpty, bad.map(cp => f"U+$cp%04X").mkString(", "))
  }

  test("pred_lang ≡ the interpreted profile-count form on generated text") {
    val words = TextFunctions.LangProfiles.flatMap(_._2).distinct
    val cased = for {
      w <- Gen.oneOf(words)
      c <- Gen.choose(0, 2)
    } yield if (c == 0) w else if (c == 1) w.capitalize else w.toUpperCase(java.util.Locale.ROOT)
    // non-words, punctuation, non-ASCII upper case (KELVIN SIGN lowers
    // to 'k', U+0130 to 'i' + U+0307) and separators \s does not match
    val other = Gen.oneOf("cat", "xyzzy", "k", "thé", "\u212A", "\u212Aein",
      "\u0130N", "\u0130S", "D\u0130E", "stra\u00DFe", "la,", "(the", "the\u00A0la",
      "\u00A0", "\u001C", "\u2003de", "sono\u0000")
    val sep = Gen.nonEmptyListOf(Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"))
      .map(_.mkString)
    val text = for {
      toks <- Gen.listOf(Gen.frequency(3 -> cased, 1 -> other))
      seps <- Gen.listOfN(toks.size + 1, sep)
      lead <- Gen.oneOf(true, false)
      trail <- Gen.oneOf(true, false)
    } yield {
      val body = toks.zip(seps.tail).map { case (t, s) => t + s }.mkString
      (if (lead) seps.head else "") +
        (if (trail) body else body.dropRight(seps.last.length))
    }
    // no shrinking: each step is a Spark job; the label names the texts
    val prop = Prop.forAllNoShrink(Gen.listOfN(200, text)) { texts =>
      val bad = predLangMismatches(texts)
      def shown(t: String) = Option(t).fold("null")(_.flatMap(c =>
        if (c >= ' ' && c <= '~') c.toString else f"\\u${c.toInt}%04x"))
      Prop(bad.isEmpty) :| bad.take(5)
        .map { case (t, n, r) => s"'${shown(t)}': native $n, reference $r" }.mkString("; ")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(Seed(1301L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
