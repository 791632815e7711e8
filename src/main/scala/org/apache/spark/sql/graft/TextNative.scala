package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native text expressions for the dedup hot path (SURVEY.md §2.9),
  * following the FloatVecDot pattern: whole-stage-codegen'd expressions
  * whose generated code calls the expression instance (addReferenceObj)
  * and passes UTF8String/ArrayData through WITHOUT the Scala-UDF
  * converter layer (String/Array boxing per row — the measured cost of
  * the UDF form on wide corpora).
  *
  * Lives under org.apache.spark.sql because ExpectsInputTypes /
  * ExpressionUtils are private[sql]; standard extension placement.
  */

/** Whitespace tokenization with EXACT parity to both sides of every
  * oracle: Spark's `split(text, "\\s+")` uses limit -1 (trailing empty
  * tokens kept) and DuckDB's `string_split_regex` keeps them too, while
  * Java's `String.split` default drops them — so "a b " is 3 tokens
  * everywhere, never 2. The Pattern is compiled once, not per row.
  * Lowercasing uses Locale.ROOT: under a tr/az default locale the JVM
  * maps "I" to dotless "ı", while TextFunctions.tokens' ASCII path
  * ignores the locale.
  */
private[graft] object WsTokens {
  private val WS = java.util.regex.Pattern.compile("\\s+")
  def split(text: UTF8String): Array[String] =
    WS.split(text.toString.toLowerCase(java.util.Locale.ROOT), -1)
  /** Raw-case tokens (no lowercasing), same split. */
  def splitRaw(text: UTF8String): Array[String] = WS.split(text.toString, -1)
}

/** Distinct word n-gram (shingle) set of lowercased text as 64-bit
  * FNV-1a hashes — hash identity stands in for string identity
  * (collision odds ~n²/2^64). Tokenization parity with
  * TextFunctions.tokens: lowercase, split on \s+.
  */
case class ShingleHash64(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val toks = WsTokens.split(text)
    if (toks.length < n) UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    else {
      val out = new scala.collection.mutable.HashSet[Long]
      var i = 0
      while (i <= toks.length - n) {
        var h = 0xcbf29ce484222325L // FNV-1a 64-bit offset basis
        var k = 0
        while (k < n) {
          val t = toks(i + k)
          var c = 0
          while (c < t.length) {
            h ^= t.charAt(c)
            h *= 0x100000001b3L
            c += 1
          }
          h ^= ' '
          h *= 0x100000001b3L
          k += 1
        }
        out += h
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out.toArray)
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingler", this, classOf[ShingleHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHash64 =
    copy(child = newChild)

  override def prettyName: String = "shingle_hash64"
}

/** POSITIONAL span hashes for exact-substring removal
  * (TextOps.spanScrub): one FNV-1a 64-bit hash per n-token window, in
  * document order, over RAW-case whitespace tokens — unlike
  * [[ShingleHash64]] this neither lowercases (the scrub rebuilds
  * training text and must treat "The" ≠ "the" exactly as the oracle's
  * raw split does) nor deduplicates (every occurrence position
  * matters). Empty array when the doc is shorter than a span. One
  * codegen'd pass replacing the interpreted
  * transform/slice/concat_ws/xxhash64 lambda chain, which allocated a
  * slice array and a concatenated string per span.
  */
case class SpanHash64(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"span width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val toks = WsTokens.splitRaw(text)
    if (toks.length < n) UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    else {
      val out = new Array[Long](toks.length - n + 1)
      var i = 0
      while (i <= toks.length - n) {
        var h = 0xcbf29ce484222325L // FNV-1a 64-bit offset basis
        var k = 0
        while (k < n) {
          val t = toks(i + k)
          var c = 0
          while (c < t.length) {
            h ^= t.charAt(c)
            h *= 0x100000001b3L
            c += 1
          }
          h ^= ' '
          h *= 0x100000001b3L
          k += 1
        }
        out(i) = h
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("spanner", this, classOf[SpanHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SpanHash64 =
    copy(child = newChild)

  override def prettyName: String = "span_hash64"
}

/** All k minhashes of a 64-bit shingle-hash array in one pass — hash
  * family i = murmur3(shingle, i) with Spark's seed 42, identical to
  * `min(hash(s, i))` over the exploded relation (NearDedup's grouped
  * form) but row-local and zero-shuffle. Null for an empty/absent
  * shingle set (a short doc has no signature).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1, s"signature width must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  def compute(hashes: ArrayData): ArrayData = {
    val m = hashes.numElements()
    if (m == 0) null
    else {
      val sig = Array.fill(k)(Long.MaxValue)
      var si = 0
      while (si < m) {
        // hash(s: long, i: int) with seed 42: fold the long, then the int
        val h1 = Murmur3_x86_32.hashLong(hashes.getLong(si), 42)
        var i = 0
        while (i < k) {
          val v = Murmur3_x86_32.hashInt(i, h1).toLong
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        si += 1
      }
      UnsafeArrayData.fromPrimitiveArray(sig)
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhasher", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = $ref.compute($c);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

/** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken SIGMOD'03) in one
  * compiled pass: tokenize, md5 each n-token shingle (hex, identical to
  * Spark's and DuckDB's `md5`), keep each w-window's minimum, distinct.
  *
  * Exists because the expression-tree form (transform over sequence with
  * array_min(slice(...))) is a higher-order function — interpreted, no
  * codegen — whose outer-scope shingle array is RE-EVALUATED per window
  * element: O(len²) per document. One measured sf0.1 document set took
  * minutes per partition on that path; this is a single linear pass.
  */
case class WinnowFingerprint(child: Expression, n: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1 && w >= 1, s"shingle width and window must be >= 1, got ($n, $w)")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private def md5hex(s: String): UTF8String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = new Array[Char](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = Character.forDigit((d(i) >> 4) & 0xf, 16)
      hex(2 * i + 1) = Character.forDigit(d(i) & 0xf, 16)
      i += 1
    }
    UTF8String.fromString(new String(hex))
  }

  def compute(text: UTF8String): ArrayData = {
    val toks = WsTokens.split(text)
    val nSh = toks.length - (n - 1)
    if (nSh <= 0)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val hs = new Array[UTF8String](nSh)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < nSh) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        hs(i) = md5hex(sb.toString)
        i += 1
      }
      // sliding-window minima (lexicographic = DuckDB list_min on varchar);
      // whole-sequence min when fewer than w shingles
      val kept = new java.util.LinkedHashSet[UTF8String]
      if (nSh < w) {
        var m = hs(0); var j = 1
        while (j < nSh) { if (hs(j).compareTo(m) < 0) m = hs(j); j += 1 }
        kept.add(m)
      } else {
        var start = 0
        while (start <= nSh - w) {
          var m = hs(start)
          var j = start + 1
          while (j < start + w) { if (hs(j).compareTo(m) < 0) m = hs(j); j += 1 }
          kept.add(m)
          start += 1
        }
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        kept.toArray.asInstanceOf[Array[Any]])
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnower", this, classOf[WinnowFingerprint].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)

  override def prettyName: String = "winnow_fingerprint"
}

/** 64-bit SimHash of whitespace-tokenized lowercased text in one compiled
  * row-local pass: per distinct token, hash = XXH64(utf8 bytes, seed 42);
  * bit b of the signature = sign of Σ(±tf) over tokens (+tf when the
  * token's hash has bit b set, −tf otherwise; sum 0 counts as set).
  * Null when the doc has no non-empty tokens. Replaces the Scala-UDF
  * form (same hash family, same signatures) — the UDF paid per-row
  * String boxing through the converter layer on exactly the corpus-wide
  * map where it hurts.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  def compute(text: UTF8String): java.lang.Long = {
    val toks = WsTokens.split(text)
    val tf = new java.util.HashMap[String, Int]
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) tf.merge(toks(i), 1, Integer.sum)
      i += 1
    }
    if (tf.isEmpty) null
    else {
      val sums = new Array[Long](64)
      tf.forEach { (w, n) =>
        val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            bytes.length, 42L)
        var b = 0
        while (b < 64) {
          sums(b) += (if (((h >>> b) & 1L) == 1L) n.toLong else -n.toLong)
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (sums(b) >= 0) sig |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(sig)
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhasher", this, classOf[SimHash64].getName)
    val boxed = ctx.freshName("simhashBoxed")
    nullSafeCodeGen(ctx, ev, c => s"""
       |java.lang.Long $boxed = $ref.compute($c);
       |${ev.isNull} = ($boxed == null);
       |${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** Token-repetition statistics in one compiled row-local pass:
  * (n_tokens, n_distinct, top_token_cnt, top_bigram_cnt) over the
  * whitespace-tokenized lowercased text — the repetition-quality signal
  * family of Rae et al. 2021 ("Gopher") §A.1.1, at token granularity
  * because web-scraped text loses line structure after normalization.
  *
  * Row-local on purpose: the declarative form (explode → count per
  * (doc, token) → max per doc) shuffles the corpus's entire token
  * stream for a logically per-row statistic. Integer counts only, so
  * the DuckDB oracle is exact — filters derive fractions downstream.
  */
case class TokenRepetition(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_token_cnt", LongType, nullable = false),
    StructField("top_bigram_cnt", LongType, nullable = false)))

  def compute(text: UTF8String): InternalRow = {
    val toks = WsTokens.split(text)
    val tf = new java.util.HashMap[String, Int]
    var i = 0
    while (i < toks.length) {
      tf.merge(toks(i), 1, Integer.sum)
      i += 1
    }
    val bf = new java.util.HashMap[String, Int]
    i = 0
    while (i < toks.length - 1) {
      bf.merge(toks(i) + " " + toks(i + 1), 1, Integer.sum)
      i += 1
    }
    var topT = 0L
    tf.forEach((_, c) => if (c.toLong > topT) topT = c.toLong)
    var topB = 0L
    bf.forEach((_, c) => if (c.toLong > topB) topB = c.toLong)
    new GenericInternalRow(Array[Any](
      toks.length.toLong, tf.size.toLong, topT, topB))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repetition", this, classOf[TokenRepetition].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenRepetition =
    copy(child = newChild)

  override def prettyName: String = "token_repetition"
}

/** Hashed-bag-of-words logistic score in one compiled pass: tokenize,
  * Murmur3-bucket each token (Spark `hash()` seed-42 parity — the SAME
  * buckets the training pass computed with `pmod(hash(t), dim)`), sum
  * the bucket weights left-to-right from 0 exactly like the
  * `aggregate(transform(...))` expression form (bit-identical fold
  * order), add the intercept, sigmoid. The weight array rides the
  * expression as a reference object (a few KB serialized with the plan,
  * like any literal) — no broadcast join, no interpreted higher-order
  * functions on the corpus-scan hot path.
  */
case class HashedBowLogit(child: Expression, weights: Array[Double],
    intercept: Double) extends UnaryExpression with ExpectsInputTypes {

  require(weights.nonEmpty, "empty weight vector")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  def compute(text: UTF8String): Double = {
    val toks = WsTokens.split(text)
    val dim = weights.length
    var sum = 0.0
    var i = 0
    while (i < toks.length) {
      val t = UTF8String.fromString(toks(i))
      val h = Murmur3_x86_32.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
        t.numBytes, 42)
      val b = ((h % dim) + dim) % dim // pmod parity (negative hashes)
      sum += weights(b)
      i += 1
    }
    // StrictMath, not Math: Spark's Exp expression evaluates via
    // StrictMath for platform-stable results — Math.exp can differ by
    // 1 ulp, breaking bit-parity with the expression-form scorer
    1.0 / (1.0 + java.lang.StrictMath.exp(-(intercept + sum)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("scorer", this, classOf[HashedBowLogit].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedBowLogit =
    copy(child = newChild)

  // the weight array must count in equality/canonicalization: two
  // scorers differing only in weights are different expressions
  override def equals(o: Any): Boolean = o match {
    case h: HashedBowLogit =>
      h.child == child && java.util.Arrays.equals(h.weights, weights) &&
        h.intercept == intercept
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, java.util.Arrays.hashCode(weights),
      Double.box(intercept))

  override def prettyName: String = "hashed_bow_logit"
}

/** Language ID by the fixed stopword profiles in one compiled pass over
  * the UTF-8 bytes: split on the ASCII whitespace Java's `\s` matches
  * (` \t\n\x0B\f\r`), ASCII-lowercase each token and count it once for
  * every profile holding it (`la`, `de`, `que`, `un` are in several;
  * repeats count again, as in the oracle's token-to-profile join). The
  * result is the argmax language, ties to the one that sorts first;
  * no hits, empty and null text give `und`.
  *
  * Byte-level matching is exact against `split(lower(text), "\\s+")`:
  * profile words are ASCII letters without `k`, and under root-locale
  * casing (ICU's and the JVM's alike) the only non-ASCII code point
  * that lowercases to ASCII letters alone is KELVIN SIGN U+212A (to
  * `k`; U+0130 gives `i` + U+0307). So a token holding a non-ASCII byte
  * never matches. Spark's `lower` follows the JVM default locale on
  * non-ASCII text, so under `tr` it maps U+0130 to `i` and the
  * expression form counts "İS" as "is"; this pass does not.
  */
case class PredLang(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  def compute(text: UTF8String): UTF8String = {
    if (text == null) return PredLang.Und
    val counts = new Array[Int](PredLang.Langs.length)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var key = 0L
    var len = 0 // letters packed so far; -1 once the token cannot be a word
    var i = 0
    while (i <= n) {
      val b: Int = if (i < n) Platform.getByte(base, off + i) else ' '
      if (b == ' ' || (b >= '\t' && b <= '\r')) { // \t \n \x0B \f \r
        if (len > 0) {
          val w = java.util.Arrays.binarySearch(PredLang.keys, key)
          if (w >= 0) {
            var m = PredLang.masks(w)
            var l = 0
            while (m != 0) { counts(l) += m & 1; m >>>= 1; l += 1 }
          }
        }
        key = 0L
        len = 0
      } else if (len >= 0) {
        val c = if (b >= 'A' && b <= 'Z') b + 32 else b
        if (c >= 'a' && c <= 'z' && len < 8) { key = (key << 8) | c; len += 1 }
        else len = -1
      }
      i += 1
    }
    var best = -1
    var bestN = 0
    var l = 0
    while (l < counts.length) {
      if (counts(l) > bestN) { best = l; bestN = counts(l) }
      l += 1
    }
    if (best < 0) PredLang.Und else PredLang.Langs(best)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langid", this, classOf[PredLang].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
       |${c.code}
       |UTF8String ${ev.value} = $ref.compute(${c.isNull} ? null : ${c.value});
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PredLang =
    copy(child = newChild)

  override def prettyName: String = "pred_lang"
}

object PredLang {
  private val profiles = _root_.graft.functions.TextFunctions.LangProfiles.sortBy(_._1)

  private val Langs: Array[UTF8String] = profiles.map(p => UTF8String.fromString(p._1)).toArray

  private val Und: UTF8String = UTF8String.fromString("und")

  /** Every profile word packed big-endian into a Long, ascending, and
    * the bit set of the languages (indexes into Langs) holding it.
    */
  private val (keys, masks): (Array[Long], Array[Int]) = {
    val byWord = profiles.zipWithIndex
      .flatMap { case ((_, ws), l) => ws.map(_ -> (1 << l)) }
      .groupMapReduce(_._1)(_._2)(_ | _)
    byWord.keys.foreach(w => require(
      w.nonEmpty && w.length <= 8 && w.forall(c => c >= 'a' && c <= 'z' && c != 'k'),
      s"profile word '$w' must be 1-8 ASCII letters a-z other than k"))
    val packed = byWord.toArray
      .map { case (w, m) => (w.foldLeft(0L)((k, c) => (k << 8) | c), m) }
      .sortBy(_._1)
    (packed.map(_._1), packed.map(_._2))
  }
}

object TextNative {

  /** `shingle_hash64(text, n)` as a Column. */
  def shingleHash64(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHash64(ExpressionUtils.expression(text), n))

  /** `span_hash64(text, n)` as a Column (positional, raw-case). */
  def spanHash64(text: Column, n: Int): Column =
    ExpressionUtils.column(SpanHash64(ExpressionUtils.expression(text), n))

  /** `minhash_signature(hashes, k)` as a Column. */
  def minhashSignature(hashes: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(hashes), k))

  /** `winnow_fingerprint(text, n, w)` as a Column. */
  def winnowFingerprint(text: Column, n: Int, w: Int): Column =
    ExpressionUtils.column(WinnowFingerprint(ExpressionUtils.expression(text), n, w))

  /** `simhash64(text)` as a Column. */
  def simHash64(text: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(text)))

  /** `token_repetition(text)` as a Column (struct of 4 long counters). */
  def tokenRepetition(text: Column): Column =
    ExpressionUtils.column(TokenRepetition(ExpressionUtils.expression(text)))

  /** `pred_lang(text)` as a Column: profile language or `und`. */
  def predLang(text: Column): Column =
    ExpressionUtils.column(PredLang(ExpressionUtils.expression(text)))

  /** `hashed_bow_logit(text)` as a Column (weights/intercept bound). */
  def hashedBowLogit(text: Column, weights: Array[Double], intercept: Double): Column =
    ExpressionUtils.column(
      HashedBowLogit(ExpressionUtils.expression(text), weights, intercept))
}
