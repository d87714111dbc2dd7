package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram language-model tokenizer (Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL 2018 — SentencePiece's default algorithm): the
  * OTHER subword tokenizer modern pipelines ship. Where BPE ([[Bpe]])
  * grows a vocabulary bottom-up by merging frequent pairs, unigram-LM
  * starts from a large seed vocabulary of substrings and EM-fits piece
  * probabilities, segmenting each word by the maximum-likelihood
  * (Viterbi) decomposition; pieces the fitted model never uses are
  * pruned. This implementation is the VITERBI-EM (hard-EM) variant —
  * the E-step assigns each word its single best segmentation instead of
  * the forward–backward posterior — which keeps every quantity an
  * integer (piece-use counts weighted by word frequency) and therefore
  * engine-replayable; soft-EM's fractional expected counts would make
  * the DuckDB-oracle comparison a float-tolerance judgment instead of
  * an equality.
  *
  * Determinism: piece costs are integer micro-nats
  * `round(ln(total/count)·10⁶)` (positive, so HALF_UP rounding agrees
  * between java.lang.Math.round and DuckDB's round-half-away-from-zero);
  * Viterbi ties prefer the LONGER piece, then the DP's fixed candidate
  * order; seed pruning ties break lexicographically. Single characters
  * (drawn from EVERY distinct word, not just the trainable head) are
  * never pruned and their counts floor at 1 — the standard coverage
  * guarantee that makes every in-corpus word segmentable.
  *
  * Scale shape (the x52 bounded-driver-reduce discipline): ONE
  * corpus-sized pass builds the distinct-word frequency table; seeding
  * and every EM round run on the trainable head (topK words) with the
  * piece table — vocab-sized, bounded by |alphabet| + multiPieces —
  * collected to the driver once per round (the
  * [[Similarity.trainKMeans]] centroid pattern). Viterbi is a per-row
  * HOF fold against a broadcast cost-map literal: zero shuffle. Encode
  * is one corpus explode + broadcast word→ids join + one doc-keyed
  * reassembly — x204's exact shuffle class, sharing its id-0 word
  * separator and round-trip-exact decode contract.
  *
  * OOV (round-16): [[encode]] keeps the loud trained-on-this-corpus
  * contract; [[encodeWithByteFallback]] is the production surface —
  * SentencePiece byte_fallback, reserved byte-token ids V+1..V+256, so
  * one trained model encodes unseen text (x212).
  */
object Unigram {

  /** Infinity sentinel for unsegmentable prefixes (headroom for adds). */
  private val INF = Long.MaxValue / 4

  /** Cost per fallback byte — see [[ByteFallback.BYTE_COST]]. */
  private[operators] val BYTE_COST = ByteFallback.BYTE_COST

  /** pieces: the fitted vocabulary as (piece → cost micro-nats), driver
    * state (bounded: |alphabet| + multiPieces). */
  final case class Model(pieces: Map[String, Long], maxPieceLen: Int)

  /** Viterbi segmentation of one word column under a cost-map literal:
    * array of pieces, or NULL when some prefix is uncoverable (an OOV
    * character under a foreign model — callers raise loudly). DP over
    * prefix lengths 0..L as one `aggregate` fold (element j+1 holds
    * struct(cost, np) where np is the NEGATED best-piece length, so the
    * struct sort prefers longer pieces on cost ties), then a second
    * fold walks the backpointers from L collecting pieces. */
  private[operators] def viterbiPieces(w: Column, costMap: Column,
      maxLen: Int, byteFallback: Boolean = false): Column = {
    val L = length(w)
    val dp = aggregate(sequence(lit(1), L),
      array(struct(lit(0L).as("cost"), lit(0).as("np"))),
      (acc, j) => {
        val cands = (1 to maxLen).map { pl =>
          val i = j - pl // prefix consumed before this piece
          val looked = element_at(costMap, w.substr(i + 1, lit(pl)))
          // byte fallback (SentencePiece byte_fallback): a single OOV
          // CHARACTER is always consumable as its UTF-8 bytes at
          // BYTE_COST per byte — multi-char candidates never fall back
          val pc =
            if (byteFallback && pl == 1)
              coalesce(looked,
                lit(BYTE_COST) * octet_length(w.substr(i + 1, lit(1))))
            else looked
          when(i >= 0 && pc.isNotNull &&
              element_at(acc, i + 1).getField("cost") < INF,
            struct((element_at(acc, i + 1).getField("cost") + pc)
              .as("cost"), lit(-pl).as("np")))
            .otherwise(struct(lit(INF).as("cost"), lit(0).as("np")))
        }
        concat(acc, array(element_at(array_sort(array(cands: _*)), 1)))
      })
    val back = aggregate(sequence(lit(1), L),
      struct(L.as("pos"), array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val np = element_at(dp, pos + 1).getField("np")
        when(pos > 0,
          struct((pos + np).as("pos"),
            concat(acc.getField("ps"),
              array(w.substr(pos + np + 1, -np))).as("ps")))
          .otherwise(acc)
      })
    when(L === 0, array().cast("array<string>"))
      .when(element_at(dp, L + 1).getField("cost") >= INF,
        lit(null).cast("array<string>"))
      .otherwise(reverse(back.getField("ps")))
  }

  /** Local (driver/executor) twin of [[viterbiPieces]] — the identical
    * DP run in plain Scala over CODEPOINTS (Spark's substr/length are
    * codepoint-aligned, so the JVM String must be split the same way):
    * same fixed candidate order, same integer micro-nat costs, same
    * (cost, −len) tie-break preferring the longer piece, same INF
    * sentinel, same byte-fallback rule (single-codepoint candidates only,
    * BYTE_COST per UTF-8 byte). Returns null for an uncoverable word
    * without fallback, exactly as the HOF returns SQL NULL.
    * UnigramSpec pins equality against [[viterbiPieces]] on every corpus
    * word; the HOF stays as the executable specification and the form
    * the DuckDB oracle replays (the Cdc.boundaryColumnHof discipline —
    * the HOF is interpreted per candidate per position and dominated the
    * per-distinct-word encode pass). */
  private[operators] def viterbiPiecesLocal(w: String,
      pieces: Map[String, Long], maxLen: Int,
      byteFallback: Boolean): Seq[String] = {
    if (w.isEmpty) return Seq.empty
    val cps = {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val n = Character.charCount(cp)
        b += w.substring(i, i + n)
        i += n
      }
      b
    }
    val L = cps.length
    val cost = new Array[Long](L + 1)
    val np = new Array[Int](L + 1)
    var j = 1
    while (j <= L) {
      var bestCost = INF
      var bestNp = 0
      var pl = 1
      while (pl <= maxLen) {
        val i = j - pl
        if (i >= 0 && cost(i) < INF) {
          val piece = cps.slice(i, j).mkString
          val looked = pieces.get(piece) match {
            case Some(c) => c
            case None if byteFallback && pl == 1 =>
              BYTE_COST * piece.getBytes("UTF-8").length
            case None => -1L
          }
          if (looked >= 0L) {
            val c = cost(i) + looked
            // array_sort(struct(cost, np)) head: min cost, then min np
            // (np = -pl, so ties prefer the LONGER piece)
            if (c < bestCost || (c == bestCost && -pl < bestNp)) {
              bestCost = c; bestNp = -pl
            }
          }
        }
        pl += 1
      }
      cost(j) = bestCost; np(j) = bestNp
      j += 1
    }
    if (cost(L) >= INF) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = L
    while (pos > 0) {
      val pl = -np(pos)
      out += cps.slice(pos - pl, pos).mkString
      pos -= pl
    }
    out.reverse.toSeq
  }

  private def costsOf(counts: Map[String, Long]): Map[String, Long] = {
    val total = counts.values.sum.toDouble
    counts.map { case (p, c) => p -> math.round(math.log(total / c) * 1e6) }
  }

  /** Train: seed = every single character of every distinct word
    * (coverage, counts from the head floored at 1) plus the
    * `multiPieces` most frequent length-2..maxPieceLen substrings of the
    * trainable head (occurrence-weighted by word frequency, ties
    * lexicographic); then `rounds` Viterbi-EM rounds — segment the head
    * under current costs, recount piece usage weighted by word
    * frequency, drop multi-char pieces the model stopped using. */
  def train(docs: DataFrame, textCol: String, topK: Int = 50,
      maxPieceLen: Int = 3, multiPieces: Int = 40,
      rounds: Int = 2): Model = {
    val words = docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // read twice: head TakeOrdered + alphabet
    // trainable head: TOP-K aggregation (orderBy+limit → TakeOrdered,
    // a parallel bounded reduce), NOT row_number over an un-partitioned
    // window — that was a single-task sort of the full distinct-word
    // table, the one non-head-sized step in training (ADVICE r15
    // item 5). Same total order (cnt desc, w asc — ties fully broken),
    // so the selected set is identical; the head IS the training state
    // (seeding and every EM round read only it), so it is COLLECTED —
    // topK rows, the Bpe.train bounded-collect discipline — and the
    // substring counting + Viterbi-EM rounds run locally over it
    // ([[viterbiPiecesLocal]], spec-pinned equal to the HOF): what used
    // to be one distributed collect job per round (plus one each for
    // seeding and the head checkpoint) is now two jobs total (this
    // TakeOrdered + the alphabet distinct below).
    val head: Array[(String, Long)] = words
      .orderBy(desc("cnt"), asc("w")).limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // alphabet: every character of every word (bounded by the charset)
    val alphabet: Set[String] = words
      .select(explode(split(col("w"), "")).as("ch"))
      .filter(col("ch") =!= "").distinct()
      .collect().map(_.getString(0)).toSet
    CacheScope.releaseCheckpoint(words) // the rest runs on the driver
    // head substrings (len 1..maxPieceLen), occurrence-weighted —
    // codepoint-sliced exactly as the old substr()-over-length() HOF
    val subCounts: Map[String, Long] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      for ((w, cnt) <- head) {
        val cps = {
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < w.length) {
            val cp = w.codePointAt(i)
            val n = Character.charCount(cp)
            b += w.substring(i, i + n)
            i += n
          }
          b
        }
        for (l <- 1 to maxPieceLen; i <- 0 to cps.length - l) {
          val p = cps.slice(i, i + l).mkString
          m(p) = m.getOrElse(p, 0L) + cnt
        }
      }
      m.toMap
    }
    val multi = subCounts.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(multiPieces)
    var counts: Map[String, Long] =
      alphabet.map(ch => ch -> math.max(subCounts.getOrElse(ch, 0L), 1L))
        .toMap ++ multi
    for (_ <- 1 to rounds) {
      val costs = costsOf(counts)
      val used = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      for ((w, cnt) <- head) {
        val ps = viterbiPiecesLocal(w, costs, maxPieceLen,
          byteFallback = false)
        if (ps != null) ps.foreach(p =>
          used(p) = used.getOrElse(p, 0L) + cnt)
      }
      counts = counts.flatMap { case (p, _) =>
        used.get(p) match {
          case Some(c) => Some(p -> c)
          case None if p.length == 1 => Some(p -> 1L) // coverage floor
          case None => None // pruned: the model stopped using it
        }
      }
    }
    Model(costsOf(counts), maxPieceLen)
  }

  /** The fitted vocabulary as a relation: ids 1..V in lexicographic
    * piece order (x204's convention; id 0 is the word separator). The
    * piece set is bounded driver state, so ids are assigned locally —
    * JVM String order, which equals the oracle's UTF-8 byte order for
    * ASCII corpora (the synthetic corpus is ASCII; a non-BMP corpus
    * would also need the char splitter revisited: JVM split("")
    * yields UTF-16 code units where a regex `.` yields codepoints). */
  def vocab(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.pieces.keys.toSeq.sorted.zipWithIndex
      .map { case (p, i) => (p, (i + 1).toLong) }
      .toDF("piece", "id")
  }

  /** ENCODE under the fitted model — [[Bpe.encode]]'s exact surface and
    * shuffle class: Viterbi runs ONCE per distinct word (vocab-sized),
    * the corpus pays one explode + broadcast word→ids join + one
    * doc-keyed reassembly. Output `(doc_id, token_ids, n_tokens)`, id 0
    * separating words; decode(encode(doc)) == doc (UnigramSpec). A word
    * with an OOV character raises loudly, like Bpe.encode. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    encodeImpl(docs, idCol, textCol, model, byteFallback = false)

  /** [[encode]] with SentencePiece-style BYTE FALLBACK — the contract
    * that lets a model trained on yesterday's corpus encode tomorrow's
    * crawl (the r15 verdict's gap 2: the loud-OOV family could not
    * encode unseen text at all): a character outside the piece
    * vocabulary consumes its UTF-8 bytes as reserved BYTE TOKENS —
    * ids V+1+b for byte value b (V = |vocab|, after the word-separator
    * id 0 and piece ids 1..V) — at [[BYTE_COST]] per byte, a floor no
    * real piece reaches, so fully-covered words segment EXACTLY as
    * [[encode]] does and only OOV characters degrade to bytes.
    * Round-trip-exact via [[decodeWithByteFallback]] (UnigramSpec,
    * including multi-byte codepoints). Same shuffle class as encode:
    * Viterbi per distinct word, one corpus explode + broadcast join +
    * doc-keyed reassembly. */
  def encodeWithByteFallback(docs: DataFrame, idCol: String,
      textCol: String, model: Model): DataFrame =
    encodeImpl(docs, idCol, textCol, model, byteFallback = true)

  private def encodeImpl(docs: DataFrame, idCol: String, textCol: String,
      model: Model, byteFallback: Boolean): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val v = vocab(spark, model)
    val vocabSize = model.pieces.size
    // Viterbi per distinct word via the LOCAL DP twin (mapPartitions,
    // pieces map in the closure — bounded driver state by the Model
    // contract): the HOF form re-evaluated interpreted candidate
    // expressions per position per word; spec-pinned equal, see
    // [[viterbiPiecesLocal]].
    val pieces = model.pieces
    val maxLen = model.maxPieceLen
    val wordIds = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .distinct().as[String]
      .mapPartitions { it =>
        it.map(w =>
          (w, viterbiPiecesLocal(w, pieces, maxLen, byteFallback)))
      }
      .toDF("w", "ps")
      .withColumn("ps", when(col("ps").isNull && col("w") =!= "",
          raise_error(concat(lit("Unigram.encode: word '"), col("w"),
            lit("' contains a character outside the model vocabulary — " +
              "the model must be trained on this corpus (or a superset)" +
              ", or use encodeWithByteFallback")))
            .cast("array<string>"))
        .otherwise(col("ps")))
      .select(col("w"), posexplode_outer(col("ps")).as(Seq("spos", "piece")))
      .join(broadcast(v), Seq("piece"), "left")
      // per piece: its vocab id, or (fallback only) its byte-token ids
      .withColumn("pids",
        when(col("piece").isNull, array().cast("array<bigint>"))
          .when(col("id").isNotNull, array(col("id")))
          .otherwise(
            if (byteFallback)
              ByteFallback.byteTokenIds(col("piece"), vocabSize.toLong)
            else array().cast("array<bigint>")))
      .groupBy("w")
      .agg(flatten(transform(
          array_sort(collect_list(struct(col("spos"), col("pids")))),
          x => x.getField("pids"))).as("ids"))
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("wpos", "w")))
      .join(broadcast(wordIds), Seq("w"))
      .groupBy("doc_id")
      .agg(flatten(transform(
          array_sort(collect_list(struct(col("wpos"), col("ids")))),
          x => when(x.getField("wpos") === 0, x.getField("ids"))
            .otherwise(concat(array(lit(0L)), x.getField("ids")))))
        .as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast("long"))
  }

  /** Per-distinct-word subtoken counts under the fitted model — the
    * unigram analogue of [[Bpe.Model.wordSubtokens]], what the fertility
    * comparison (x210, x113's table) consumes. One distinct + per-row
    * Viterbi fold, zero extra shuffle; OOV words raise loudly. */
  def wordSubtokens(docs: DataFrame, textCol: String,
      model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieces = model.pieces
    val maxLen = model.maxPieceLen
    docs.select(explode(split(col(textCol), " ")).as("w")).distinct()
      .as[String]
      .mapPartitions { it =>
        it.map(w =>
          (w, viterbiPiecesLocal(w, pieces, maxLen, byteFallback = false)))
      }
      .toDF("w", "ps")
      .withColumn("n_subtokens", when(col("ps").isNull,
          raise_error(concat(lit("Unigram.wordSubtokens: word '"),
            col("w"), lit("' contains a character outside the model " +
              "vocabulary"))).cast("long"))
        .otherwise(size(col("ps")).cast("long")))
      .select(col("w"), col("n_subtokens"))
  }

  /** DECODE: ids back to pieces (0 → the word separator), concatenated
    * per document — [[Bpe.decode]]'s contract over the unigram vocab. */
  def decode(encoded: DataFrame, model: Model): DataFrame = {
    val spark = encoded.sparkSession
    val v = vocab(spark, model).select(col("id"), col("piece").as("sym"))
      .unionByName(spark.range(1)
        .select(lit(0L).as("id"), lit(" ").as("sym")))
    encoded.select(col("doc_id"), posexplode_outer(col("token_ids"))
        .as(Seq("tpos", "id")))
      .join(broadcast(v), Seq("id"), "left")
      .groupBy("doc_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("tpos"), col("sym")))),
        x => x.getField("sym"))).as("text"))
  }

  /** DECODE under the byte-fallback id space
    * ([[encodeWithByteFallback]]'s inverse): every token becomes its
    * UTF-8 BYTES — pieces and the separator via their string encoding,
    * byte tokens (id > V) as the single byte id−V−1 — concatenated per
    * document IN TOKEN ORDER and decoded once, so a multi-byte
    * codepoint split across consecutive byte tokens reassembles
    * exactly. decode-then-UTF-8, not per-token strings: a lone
    * continuation byte is not a string. */
  def decodeWithByteFallback(encoded: DataFrame,
      model: Model): DataFrame = {
    val spark = encoded.sparkSession
    val v = vocab(spark, model).select(col("id"), col("piece").as("sym"))
      .unionByName(spark.range(1)
        .select(lit(0L).as("id"), lit(" ").as("sym")))
    ByteFallback.decodeBytes(encoded, v, model.pieces.size.toLong)
  }
}
