package graft.expressions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass text expressions for the dedup hot path.
  *
  * The HOF formulations (split → zip_with chains → transform(md5) →
  * aggregate) are CodegenFallback and evaluate INTERPRETED, re-walking
  * deep expression trees per row; these expressions do the same work in
  * one imperative pass. They are themselves CodegenFallback (a single
  * eval call per row), which is fine — the win is O(work) per row with
  * no tree-walking, not codegen fusion.
  *
  * Semantics are kept bit-compatible with the HOF versions (and the
  * DuckDB oracles): split keeps empty fields (Spark split limit=-1),
  * shingles join with '_', distinct preserves first occurrence, hashes
  * are lowercase md5 hex, minhash order = lexicographic over hex.
  */
private object TextExprUtil {
  def splitTokens(text: UTF8String): Array[String] =
    text.toString.split(" ", -1)

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  def md5bytes(s: String): Array[Byte] = {
    val d = digest.get()
    d.reset()
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def md5hex(s: String): String = {
    val bytes = md5bytes(s)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def shingleStrings(toks: Array[String], n: Int, distinct: Boolean): Seq[String] = {
    if (toks.length < n) return Nil
    val sb = new StringBuilder
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val seen = if (distinct) scala.collection.mutable.HashSet[String]() else null
    var i = 0
    while (i <= toks.length - n) {
      sb.clear()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append('_')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen == null || seen.add(s)) out += s
      i += 1
    }
    out.toSeq
  }

  def toArrayData(ss: Seq[String]): ArrayData =
    new GenericArrayData(ss.map(UTF8String.fromString).toArray[Any])
}

/** The input check of a text expression over one string column. */
trait StringInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
}

/** The input check of a text expression over one array<string> column. */
trait StringArrayInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }
}

/** Word n-gram shingles of a space-separated text, one pass.
  * `distinct=false` keeps positional order (winnowing needs positions). */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback with StringInput {
  require(n >= 1, "n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def nullSafeEval(input: Any): Any = {
    val toks = TextExprUtil.splitTokens(input.asInstanceOf[UTF8String])
    TextExprUtil.toArrayData(TextExprUtil.shingleStrings(toks, n, distinct))
  }
  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** MinHash signature: element i = min over shingles of md5hex("i|" + s),
  * all `numHashes` seeds in one pass over the shingle array. */
case class MinHashSignatures(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback with StringArrayInput {
  require(numHashes >= 1, "numHashes must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_signatures"
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m == 0) return null // mirrors array_min(empty) = null
    val mins = new Array[String](numHashes)
    var i = 0
    while (i < m) {
      val s = arr.getUTF8String(i).toString
      var seed = 0
      while (seed < numHashes) {
        val h = TextExprUtil.md5hex(s"$seed|$s")
        if (mins(seed) == null || h < mins(seed)) mins(seed) = h
        seed += 1
      }
      i += 1
    }
    TextExprUtil.toArrayData(mins.toSeq)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSignatures =
    copy(child = c)
}

/** 32-bit SimHash over the DISTINCT elements of a token array, as a
  * '0'/'1' string: bit j = sign of Σ (md5 hex digit j ≥ '8' ? +1 : −1),
  * ties → 1. One md5 per distinct token. */
case class SimHash32(child: Expression)
    extends UnaryExpression with CodegenFallback with StringArrayInput {
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash32"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val seen = scala.collection.mutable.HashSet[String]()
    val sums = new Array[Int](32)
    var i = 0
    while (i < arr.numElements()) {
      val t = arr.getUTF8String(i).toString
      if (seen.add(t)) {
        val h = TextExprUtil.md5hex(t)
        var j = 0
        while (j < 32) {
          if (h.charAt(j) >= '8') sums(j) += 1 else sums(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Char](32)
    var j = 0
    while (j < 32) { out(j) = if (sums(j) >= 0) '1' else '0'; j += 1 }
    UTF8String.fromString(new String(out))
  }
  override protected def withNewChildInternal(c: Expression): SimHash32 =
    copy(child = c)
}

/** 64-bit SimHash over the DISTINCT elements of a token array, as a
  * '0'/'1' string: bit j (0-indexed, MSB-first) = sign of
  * Σ (bit j of md5(t) set ? +1 : −1), ties → 1. Uses the first 64 bits
  * of the digest — 4× the signature space per nibble of the 32-bit
  * variant, which birthday-saturated around 2^16 documents. One md5 per
  * distinct token. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback with StringArrayInput {
  override def dataType: DataType = StringType
  override def prettyName: String = "simhash64"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val seen = scala.collection.mutable.HashSet[String]()
    val sums = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val t = arr.getUTF8String(i).toString
      if (seen.add(t)) {
        val d = TextExprUtil.md5bytes(t)
        var j = 0
        while (j < 64) {
          if (((d(j >> 3) >> (7 - (j & 7))) & 1) == 1) sums(j) += 1
          else sums(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Char](64)
    var j = 0
    while (j < 64) { out(j) = if (sums(j) >= 0) '1' else '0'; j += 1 }
    UTF8String.fromString(new String(out))
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** 64-bit SimHash over OVERLAPPING byte blocks of a BINARY payload —
  * the multimodal near-dup signature (Multimodal.payloadNearDups) in one
  * imperative pass. Bit-compatible by construction with
  * `simhash64Native(<hex-window tokens>)`: each sliding `blockBytes`
  * window is rendered as its UPPERCASE hex string (what Spark's
  * `hex(payload)` + substr would produce) and md5-hashed once per
  * distinct block, so the engine-neutral DuckDB oracle needs no change.
  * The win over the expression-chain form is skipping the per-row
  * materialization of the full hex string and the ~n_bytes-element
  * block array. */
case class ByteBlockSimHash64(child: Expression, blockBytes: Int)
    extends UnaryExpression with CodegenFallback {
  require(blockBytes > 0, "blockBytes must be positive")
  override def dataType: DataType = StringType
  override def prettyName: String = "byte_block_simhash64"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.simpleString}")
  }
  private val HEXU = "0123456789ABCDEF".toCharArray
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val seen = scala.collection.mutable.HashSet[String]()
    val sums = new Array[Int](64)
    var i = 0
    val last = bytes.length - blockBytes
    while (i <= last) {
      val block = new Array[Char](blockBytes * 2)
      var k = 0
      while (k < blockBytes) {
        val b = bytes(i + k) & 0xFF
        block(k * 2) = HEXU(b >> 4)
        block(k * 2 + 1) = HEXU(b & 0xF)
        k += 1
      }
      val t = new String(block)
      if (seen.add(t)) {
        val d = TextExprUtil.md5bytes(t)
        var j = 0
        while (j < 64) {
          if (((d(j >> 3) >> (7 - (j & 7))) & 1) == 1) sums(j) += 1
          else sums(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Char](64)
    var j = 0
    while (j < 64) { out(j) = if (sums(j) >= 0) '1' else '0'; j += 1 }
    UTF8String.fromString(new String(out))
  }
  override protected def withNewChildInternal(c: Expression): ByteBlockSimHash64 =
    copy(child = c)
}

/** md5hex of ordered k-gram shingles + w-window sliding minima,
  * deduplicated — the whole winnowing fingerprint in one pass. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback with StringInput {
  require(k >= 1 && w >= 1, "k and w must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  override def nullSafeEval(input: Any): Any = {
    val toks = TextExprUtil.splitTokens(input.asInstanceOf[UTF8String])
    val hashes = TextExprUtil.shingleStrings(toks, k, distinct = false)
      .map(TextExprUtil.md5hex).toIndexedSeq
    val fps =
      if (hashes.size >= w)
        (0 to hashes.size - w).map(i => hashes.slice(i, i + w).min)
      else hashes
    TextExprUtil.toArrayData(fps.distinct)
  }
  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** Stopword-profile counts in ONE pass over the tokens: element i = the
  * number of tokens (with multiplicity) contained in profile i's word
  * set. Equivalent to `size(filter(tokens, _.isin(profile)))` per
  * profile, without re-walking an interpreted HOF tree per profile. */
case class ProfileScores(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback with StringInput {
  require(profiles.nonEmpty, "at least one profile")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "profile_scores"
  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    profiles.map { p =>
      val s = new java.util.HashSet[String]()
      p.foreach(s.add); s
    }.toArray
  override def nullSafeEval(input: Any): Any = {
    val toks = TextExprUtil.splitTokens(input.asInstanceOf[UTF8String])
    val counts = new Array[Long](sets.length)
    var i = 0
    while (i < toks.length) {
      var j = 0
      while (j < sets.length) {
        if (sets(j).contains(toks(i))) counts(j) += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(counts.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): ProfileScores =
    copy(child = c)
}

/** One-pass within-doc repetition signals — the native twin of the
  * staged HOF chain in `TextFunctions.dupNgramRatio`/`topNgramShare`
  * (Gopher repetition filters, Rae et al. 2021 Table A1). Returns
  * `array<double> [dup2, dup3, top2]`:
  * bigram duplicate fraction (1 − distinct/total), trigram duplicate
  * fraction, and the most-frequent bigram's occurrence share. One token
  * walk with a count map — the HOF top-share is O(distinct × total)
  * interpreted; this is O(total). Division/subtraction order matches the
  * HOF form and the DuckDB oracle bit-for-bit (same integer operands,
  * same IEEE ops). Docs too short for an n-gram score 0 on that axis. */
case class RepetitionSignals(child: Expression)
    extends UnaryExpression with CodegenFallback with StringInput {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)
  override def prettyName: String = "repetition_signals"
  override def nullSafeEval(input: Any): Any = {
    val toks = TextExprUtil.splitTokens(input.asInstanceOf[UTF8String])
    val n2 = toks.length - 1
    var dup2 = 0.0
    var top2 = 0.0
    if (n2 > 0) {
      val counts = new java.util.HashMap[String, Integer](n2 * 2)
      var maxC = 0
      var i = 0
      while (i < n2) {
        val g = toks(i) + "_" + toks(i + 1)
        val prev = counts.get(g)
        val c = if (prev == null) 1 else prev.intValue() + 1
        counts.put(g, c)
        if (c > maxC) maxC = c
        i += 1
      }
      dup2 = 1.0 - counts.size.toDouble / n2
      top2 = maxC.toDouble / n2
    }
    val n3 = toks.length - 2
    var dup3 = 0.0
    if (n3 > 0) {
      val seen = new java.util.HashSet[String](n3 * 2)
      var i = 0
      while (i < n3) {
        seen.add(toks(i) + "_" + toks(i + 1) + "_" + toks(i + 2))
        i += 1
      }
      dup3 = 1.0 - seen.size.toDouble / n3
    }
    new GenericArrayData(Array[Any](dup2, dup3, top2))
  }
  override protected def withNewChildInternal(c: Expression): RepetitionSignals =
    copy(child = c)
}

/** BPE-ish pre-tokenizer token count — the number of matches of
  * `[a-z]+|[0-9]+|[^a-z0-9 ]` — as a single byte-level pass over the
  * UTF-8 payload, no regex engine and no match-array materialization.
  * A token is a maximal run of lowercase letters, a maximal run of
  * digits, or ONE other code point (uppercase, punctuation, anything
  * non-ASCII; spaces separate). Non-ASCII code points are counted at
  * their UTF-8 lead byte — one per code point, exactly what the Java
  * regex's negated class matches (supplementary chars included). The
  * regex twin `TextFunctions.bpeishTokenCountRegex` stays the oracle
  * form; BpeishSpec proves them bit-equal on unicode fuzz. */
case class BpeishTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback with StringInput {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "bpeish_token_count"
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes
    var count = 0L
    var inLetter = false
    var inDigit = false
    var i = 0
    while (i < n) {
      val c = s.getByte(i) & 0xff
      if (c >= 'a' && c <= 'z') {
        if (!inLetter) count += 1
        inLetter = true; inDigit = false
      } else if (c >= '0' && c <= '9') {
        if (!inDigit) count += 1
        inDigit = true; inLetter = false
      } else {
        inLetter = false; inDigit = false
        // count ASCII non-space directly; for multi-byte sequences count
        // only the lead byte ((c & 0xC0) == 0x80 marks continuations)
        if (c != ' ' && (c & 0xc0) != 0x80) count += 1
      }
      i += 1
    }
    count
  }
  override protected def withNewChildInternal(c: Expression): BpeishTokenCount =
    copy(child = c)
}

/** DEFLATE (RFC 1951) compressed length of a string's UTF-8 bytes (or of
  * a binary payload) via the JDK's `java.util.zip.Deflater` — the
  * compressibility quality signal of web-corpus curation (highly
  * repetitive boilerplate compresses far below natural text; see e.g.
  * the Gopher rules' repetition family, Rae et al. arXiv:2112.11446
  * §A1.1, which this signal summarizes in one number). Returns the
  * compressed byte count; callers derive ratios. One native pass per
  * row; the Deflater instance is thread-local and reset per value (no
  * per-row native allocation).
  *
  * The exact byte count is zlib-implementation-specific, so oracle
  * queries must assert INEQUALITY verdicts (bounds, repetition gains),
  * never the raw count — see x80.
  */
case class DeflateLength(child: Expression, level: Int)
    extends UnaryExpression with CodegenFallback {
  require(level >= 1 && level <= 9, "deflate level must be in 1..9")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "deflate_length"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | org.apache.spark.sql.types.BinaryType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string or binary, got ${other.simpleString}")
  }
  @transient private lazy val deflater =
    new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(level, false)
    }
  @transient private lazy val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }
  override def nullSafeEval(input: Any): Any = {
    val bytes = input match {
      case s: UTF8String => s.getBytes
      case b: Array[Byte] => b
    }
    val d = deflater.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val b = buf.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(b)
    total
  }
  override protected def withNewChildInternal(c: Expression): DeflateLength =
    copy(child = c)
}

/** Unicode normalization via `java.text.Normalizer` (UAX #15 forms NFC /
  * NFD / NFKC / NFKD) — the canonicalization step every multilingual
  * corpus pipeline runs before tokenizing or hashing: composed and
  * decomposed spellings of the same grapheme must dedup/shingle/count
  * identically. DuckDB's `nfc_normalize` implements the same standard,
  * so outputs are exactly cross-checkable. */
case class NormalizeText(child: Expression, form: String)
    extends UnaryExpression with CodegenFallback with StringInput {
  private val normForm = java.text.Normalizer.Form.valueOf(form.toUpperCase)
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, normForm))
  override protected def withNewChildInternal(c: Expression): NormalizeText =
    copy(child = c)
}

/** Accent stripping: NFD-decompose, drop combining marks (Unicode
  * category Mn), NFC-recompose — ASCII-folds Latin diacritics the same
  * way DuckDB's `strip_accents` does for the Latin-1 range. */
case class StripAccents(child: Expression)
    extends UnaryExpression with CodegenFallback with StringInput {
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"
  override def nullSafeEval(input: Any): Any = {
    val nfd = java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(java.text.Normalizer.normalize(
      sb.toString, java.text.Normalizer.Form.NFC))
  }
  override protected def withNewChildInternal(c: Expression): StripAccents =
    copy(child = c)
}

/** Multi-phrase token-boundary match counts in ONE pass — the blocklist
  * screen of C4 (Raffel et al., JMLR 2020 §2.2: drop pages containing
  * any "bad word") and MassiveText (Rae et al. 2021), generalized to
  * word PHRASES: element i = the number of token positions where phrase
  * i's full word sequence occurs (overlaps counted, the Aho–Corasick
  * convention). A per-phrase HOF scan is O(phrases × tokens); this is a
  * word-level Aho–Corasick automaton (Aho & Corasick, CACM 1975) —
  * O(tokens + matches) regardless of blocklist size, the property that
  * matters when production blocklists run to hundreds of entries.
  * Matching is at token boundaries over the space-split stream ("scan"
  * never matches inside "rescan" — the C4 word-boundary semantics). */
case class PhraseHits(child: Expression, phrases: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback with StringInput {
  require(phrases.nonEmpty, "at least one phrase")
  require(phrases.forall(_.nonEmpty), "phrases must be non-empty")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "phrase_hits"

  // goto/fail/output automaton over the WORD alphabet, built once per
  // executor (transient lazy): children as per-node hash maps, failure
  // links by BFS, outputs inherited through the failure chain
  @transient private lazy val automaton: PhraseHits.Automaton =
    PhraseHits.build(phrases)

  override def nullSafeEval(input: Any): Any = {
    val toks = TextExprUtil.splitTokens(input.asInstanceOf[UTF8String])
    val a = automaton
    val counts = new Array[Long](phrases.length)
    var state = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var s = state
      var next = a.children(s).getOrDefault(t, -1)
      while (next == -1 && s != 0) {
        s = a.fail(s)
        next = a.children(s).getOrDefault(t, -1)
      }
      state = if (next == -1) 0 else next
      var o = a.outputs(state)
      while (o ne Nil) {
        counts(o.head) += 1L
        o = o.tail
      }
      i += 1
    }
    new GenericArrayData(counts.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): PhraseHits =
    copy(child = c)
}

object PhraseHits {
  private[expressions] final case class Automaton(
      children: Array[java.util.HashMap[String, Integer]],
      fail: Array[Int],
      outputs: Array[List[Int]])

  private[expressions] def build(phrases: Seq[Seq[String]]): Automaton = {
    val children =
      scala.collection.mutable.ArrayBuffer(
        new java.util.HashMap[String, Integer]())
    val terminal = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    phrases.zipWithIndex.foreach { case (p, pi) =>
      var node = 0
      p.foreach { w =>
        val nxt = children(node).get(w)
        node = if (nxt != null) nxt.intValue()
        else {
          children += new java.util.HashMap[String, Integer]()
          terminal += Nil
          val id = children.size - 1
          children(node).put(w, Integer.valueOf(id))
          id
        }
      }
      terminal(node) = pi :: terminal(node)
    }
    val n = children.size
    val fail = new Array[Int](n)
    val outputs = new Array[List[Int]](n)
    val queue = new Array[Int](n)
    var qh = 0
    var qt = 0
    outputs(0) = terminal(0)
    val rootIt = children(0).values().iterator()
    while (rootIt.hasNext) {
      val c = rootIt.next().intValue()
      fail(c) = 0
      outputs(c) = terminal(c)
      queue(qt) = c; qt += 1
    }
    while (qh < qt) {
      val u = queue(qh); qh += 1
      val it = children(u).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val w = e.getKey
        val v = e.getValue.intValue()
        var f = fail(u)
        var nxt = children(f).getOrDefault(w, -1)
        while (nxt == -1 && f != 0) {
          f = fail(f)
          nxt = children(f).getOrDefault(w, -1)
        }
        fail(v) = if (nxt == -1 || nxt == v) 0 else nxt
        outputs(v) = terminal(v) ::: outputs(fail(v))
        queue(qt) = v; qt += 1
      }
    }
    Automaton(children.toArray, fail, outputs)
  }
}

/** All chrF clipped character-n-gram overlaps in ONE pass: element
  * n−1 = Σ_{g ∈ n-grams} min(count_left(g), count_right(g)) for
  * n = 1..maxN. The HOF twin (aggregate over array_distinct × two
  * filters) is O(distinct·len) per order — O(len²) for the trigram
  * order on character data; this is O(maxN·(|a|+|b|)) via one hash map
  * per order (count right's grams, then walk left's decrementing).
  * Bit-compatible with the HOF/DuckDB formulation by construction:
  * clipped counts are exact integers. Null if either side is null. */
case class CharGramOverlaps(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression with CodegenFallback {
  require(maxN >= 1 && maxN <= 6, s"maxN $maxN outside 1..6")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "chargram_overlaps"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got $other")
    }
  override def nullSafeEval(a: Any, b: Any): Any = {
    // Gram units are Unicode code points, not UTF-16 code units: the HOF
    // twin and the precision/recall denominators use Spark length()/
    // substr(), which count code points, so indexing by code units would
    // disagree on any non-BMP character (emoji, astral CJK).
    val ca = a.asInstanceOf[UTF8String].toString.codePoints().toArray
    val cb = b.asInstanceOf[UTF8String].toString.codePoints().toArray
    val out = new Array[Any](maxN)
    var n = 1
    while (n <= maxN) {
      val counts = new java.util.HashMap[String, Int]()
      var i = 0
      val endB = cb.length - n
      while (i <= endB) {
        counts.merge(new String(cb, i, n), 1, Integer.sum _)
        i += 1
      }
      var ov = 0L
      i = 0
      val endA = ca.length - n
      while (i <= endA) {
        val g = new String(ca, i, n)
        val c = counts.getOrDefault(g, 0)
        if (c > 0) { ov += 1; counts.put(g, c - 1) }
        i += 1
      }
      out(n - 1) = ov
      n += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CharGramOverlaps = copy(left = l, right = r)
}

/** Content-defined-chunking boundary positions
  * ([[graft.operators.Cdc]], the LBFS rule): 1-based positions i
  * (w <= i <= len) where the w-char polynomial window hash
  * Σ_j code(i−w+1+j)·31^{w−1−j} ≡ 0 (mod 2^20, then mod mask+1).
  * Bit-compatible with the HOF formulation and the DuckDB oracle:
  * "code" is the FIRST UTF-16 unit of the code point at that position
  * (Spark ascii() semantics; positions count CODE POINTS like
  * length()/substr() — astral input is rejected upstream, where the
  * two diverge). A rolling O(len) evaluation replaces the HOF's
  * O(len·w) interpreted tree walk (the chunking pass was the whole
  * cost of x156's cold pass). */
case class CdcBoundaries(child: Expression, w: Int, mask: Int)
    extends UnaryExpression with CodegenFallback with StringInput {
  require(w >= 2 && w <= 64, s"window $w outside 2..64")
  require(mask >= 1 && (mask & (mask + 1)) == 0,
    s"mask $mask must be 2^k - 1")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"
  private val M = 1L << 20
  private val topPow: Long = {
    var p = 1L; var i = 0
    while (i < w - 1) { p = p * 31 % M; i += 1 }
    p
  }
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.codePointCount(0, s.length)
    if (n < w) return new GenericArrayData(Array.empty[Int])
    // code-point walk, Spark-ascii codes (first UTF-16 unit each)
    val codes = new Array[Long](n)
    var ci = 0
    var off = 0
    while (off < s.length) {
      codes(ci) = s.charAt(off).toLong
      ci += 1
      off += Character.charCount(s.codePointAt(off))
    }
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    val residue = mask + 1
    var h = 0L
    var idx = 0
    while (idx < w) { h = (h * 31 + codes(idx)) % M; idx += 1 }
    if (h % residue == 0) out += w
    var i = w // 1-based position of the current window end
    while (i < n) {
      h = ((h - codes(i - w) * topPow) % M + M) % M
      h = (h * 31 + codes(i)) % M
      i += 1
      if (h % residue == 0) out += i
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): CdcBoundaries =
    copy(child = c)
}

object TextExpressions {
  def cdcBoundaries(text: Column, w: Int, mask: Int): Column =
    GraftSql.column(CdcBoundaries(GraftSql.expression(text), w, mask))
  def wordShingles(text: Column, n: Int, distinct: Boolean = true): Column =
    GraftSql.column(WordShingles(GraftSql.expression(text), n, distinct))
  def profileScores(text: Column, profiles: Seq[Seq[String]]): Column =
    GraftSql.column(ProfileScores(GraftSql.expression(text), profiles))
  def minhashSignatures(shingles: Column, numHashes: Int): Column =
    GraftSql.column(MinHashSignatures(GraftSql.expression(shingles), numHashes))
  def simhash32Native(toks: Column): Column =
    GraftSql.column(SimHash32(GraftSql.expression(toks)))
  def simhash64Native(toks: Column): Column =
    GraftSql.column(SimHash64(GraftSql.expression(toks)))
  def byteBlockSimhash64(payload: Column, blockBytes: Int): Column =
    GraftSql.column(ByteBlockSimHash64(GraftSql.expression(payload), blockBytes))
  def winnowFingerprintsNative(text: Column, k: Int, w: Int): Column =
    GraftSql.column(WinnowFingerprints(GraftSql.expression(text), k, w))
  def repetitionSignals(text: Column): Column =
    GraftSql.column(RepetitionSignals(GraftSql.expression(text)))
  def bpeishTokenCountNative(text: Column): Column =
    GraftSql.column(BpeishTokenCount(GraftSql.expression(text)))
  def deflateLength(data: Column, level: Int = 6): Column =
    GraftSql.column(DeflateLength(GraftSql.expression(data), level))
  def normalizeText(text: Column, form: String = "NFC"): Column =
    GraftSql.column(NormalizeText(GraftSql.expression(text), form))
  def stripAccents(text: Column): Column =
    GraftSql.column(StripAccents(GraftSql.expression(text)))
  def phraseHits(text: Column, phrases: Seq[Seq[String]]): Column =
    GraftSql.column(PhraseHits(GraftSql.expression(text), phrases))
  def charGramOverlaps(a: Column, b: Column, maxN: Int): Column =
    GraftSql.column(CharGramOverlaps(GraftSql.expression(a),
      GraftSql.expression(b), maxN))
}
