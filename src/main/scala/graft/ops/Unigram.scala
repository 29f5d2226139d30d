package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer — the OTHER production
  * subword tokenizer, completing the ladder next to the merge-rule BPE
  * of [[Bpe]] (Kudo, "Subword Regularization: Improving Neural Network
  * Translation Models with Multiple Subword Candidates", ACL 2018):
  * a vocabulary of PIECES with probabilities, and a word's
  * tokenization is the max-likelihood segmentation (Viterbi over piece
  * log-probs), not a merge replay.
  *
  * TRAINING ([[trainPieces]]) is hard-EM, deterministic end to end:
  * seed the piece table with every substring (length 2..[[MaxPieceLen]])
  * of the pinned [[Bpe.seedCorpus]] occurring at least twice (weighted)
  * plus all 26 single letters; iterate: E-step = Viterbi-segment every
  * seed word under current probs, M-step = piece probability ∝ usage
  * count (single letters keep a floor count so any word stays
  * segmentable); after [[EmIters]] rounds prune to the
  * [[MaxMultiPieces]] highest-probability multi-character pieces
  * (ties lexicographic) and renormalize. The published algorithm prunes
  * by likelihood loss with soft-EM; hard-EM with count pruning keeps
  * every step integer/argmax-deterministic, which is what makes the
  * APPLY side oracle-replayable.
  *
  * APPLICATION is Viterbi over SCALED-INTEGER log-probs
  * (lp = ⌊ln p · 10⁶⌋, fixed at train time): dp[i] = max over piece
  * lengths l of dp[i−l] + lp(word[i−l..i)), ties to the LONGEST
  * piece. Integer scores make the argmax bit-identical in the native
  * expression ([[graft.functions.UnigramPieces]] — one tight JVM loop
  * per word), the plain-Scala replay ([[viterbi]], spec-pinned), and
  * the DuckDB oracle (a recursive CTE stepping one char position per
  * iteration, carrying the last [[MaxPieceLen]] dp/count values as
  * columns — the [[Dedup.cdcBytesSql]] bounded-state fold pattern).
  *
  * Scale: apply is a per-row expression (no shuffle, no UDF registry);
  * the piece table rides inside the expression like [[Bpe]]'s merge
  * table — a production 50k-piece vocab swaps the linear probe for the
  * same hash lookup the expression already uses. */
object Unigram {

  val MaxPieceLen = 6
  val EmIters = 5
  val MaxMultiPieces = 48
  private val LpScale = 1000000L

  /** Viterbi segmentation of `word` under integer log-probs `lp` —
    * the plain-Scala replay the native expression and the SQL oracle
    * are both pinned against. Ties prefer the longest piece. Assumes
    * every single char of `word` is in the table (training guarantees
    * [a-z]). */
  def viterbi(word: String, lp: Map[String, Long]): Vector[String] = {
    val n = word.length
    if (n == 0) return Vector.empty
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // winning piece length at i
    var i = 1
    while (i <= n) {
      var best = Long.MinValue
      var bestL = 0
      var l = math.min(MaxPieceLen, i)
      while (l >= 1) { // descending: on equal score the LONGEST wins,
        // so only a strictly greater shorter candidate may displace it
        lp.get(word.substring(i - l, i)) match {
          case Some(p) =>
            val cand = dp(i - l) + p
            if (cand > best) { best = cand; bestL = l }
          case None => ()
        }
        l -= 1
      }
      require(bestL > 0, s"unsegmentable at $i in '$word' (missing single char?)")
      dp(i) = best; back(i) = bestL
      i += 1
    }
    var out = List.empty[String]
    var j = n
    while (j > 0) { out = word.substring(j - back(j), j) :: out; j -= back(j) }
    out.toVector
  }

  /** Hard-EM training on a (word, freq) table; returns the pruned
    * piece table as (piece, integer log-prob), sorted by piece. */
  def trainPieces(wordFreq: Seq[(String, Long)]): Seq[(String, Long)] = {
    val words = wordFreq.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
    val singles = ('a' to 'z').map(_.toString)
    // seed: substring counts (weighted), threshold 2; singles always in
    val subCnt = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, f) =>
      for (i <- 0 until w.length; l <- 2 to math.min(MaxPieceLen, w.length - i))
        subCnt(w.substring(i, i + l)) = subCnt.getOrElse(w.substring(i, i + l), 0L) + f
    }
    var counts: Map[String, Long] =
      subCnt.filter(_._2 >= 2).toMap ++ singles.map(s => s -> math.max(1L,
        words.collect { case (w, f) if w.contains(s) => f }.sum)).toMap
    def lpOf(c: Map[String, Long]): Map[String, Long] = {
      val total = c.values.sum.toDouble
      c.map { case (p, n) => p -> math.floor(math.log(n / total) * LpScale).toLong }
    }
    var it = 0
    while (it < EmIters) {
      val lp = lpOf(counts)
      val next = scala.collection.mutable.Map.empty[String, Long]
      words.foreach { case (w, f) =>
        viterbi(w, lp).foreach(p => next(p) = next.getOrElse(p, 0L) + f)
      }
      // singles keep a floor count: every word must stay segmentable
      singles.foreach(s => next(s) = math.max(1L, next.getOrElse(s, 0L)))
      counts = next.toMap
      it += 1
    }
    val keptMulti = counts.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(MaxMultiPieces).map(_._1).toSet
    val kept = counts.filter { case (p, _) => p.length == 1 || keptMulti(p) }
    lpOf(kept).toSeq.sortBy(_._1)
  }

  /** The query vocab: pieces trained on the pinned [[Bpe.seedCorpus]]
    * — a compile-time constant shared by the native expression and the
    * DuckDB oracle, like [[Bpe.merges]]. */
  val pieces: Seq[(String, Long)] = trainPieces(Bpe.seedCorpus)
  private lazy val pieceMap: Map[String, Long] = pieces.toMap

  /** Driver-side tokenization over the query vocab (tests, callers). */
  def tokenize(word: String): Vector[String] = viterbi(word, pieceMap)

  /** `q_unigram_tokens`: per-language unigram-LM token counts over
    * `documents` — the [[Bpe.bpeTokens]] shape with the Viterbi
    * tokenizer, so the two vocab models diff directly (chars/token =
    * the compression each model buys on the same words). */
  def unigramTokens(spark: SparkSession, sfDir: String): DataFrame =
    // NOTE (r15): the distinct-word + weighted-sum shape that pays off
    // for [[tokenizerCompare]] (three tokenizers per word) measured
    // ~1.5× SLOWER here — one Viterbi per occurrence is cheaper than
    // the added (lang, word) exchange when only one tokenizer runs.
    // Per-occurrence scoring stays.
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .select(col("lang"),
        size(graft.functions.TextFunctions.unigram_pieces(col("word"), pieces)).as("n_tok"),
        length(col("word")).as("n_chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).cast("long").as("n_unigram_tokens"),
        round(sum(col("n_chars")).cast("double") / sum(col("n_tok")), 4).as("chars_per_token"))
      .orderBy(col("lang"))

  /** Oracle twin: the identical integer Viterbi replayed as a
    * recursive CTE over DISTINCT words — one iteration per char
    * position, the last [[MaxPieceLen]] dp values and token counts
    * carried as shifted columns (bounded state, the cdc-bytes fold
    * encoding), longest-piece tie-break via longest-first CASE. */
  /** The Viterbi replay as CTE text for an arbitrary piece table,
    * name-tagged so two tokenizers can replay inside ONE query: reads
    * a `uw(word)` CTE the caller must define, ends in
    * `ntok_$tag(word, n_tok)`. No leading WITH. */
  private def viterbiCtesSql(table: Seq[(String, Long)], tag: String): String = {
    val vals = table.map { case (p, lp) => s"('$p', CAST($lp AS BIGINT))" }
      .mkString(",\n      ")
    val L = MaxPieceLen
    val neg = "-9000000000000000"
    def cand(l: Int) = s"(f.d$l + p$l.lp)"
    val best = (L to 1 by -1).map(l => s"coalesce(${cand(l)}, $neg)")
      .mkString("greatest(", ", ", ")")
    val nbest = (L to 1 by -1).map(l =>
      s"WHEN ${cand(l)} = $best THEN f.n$l + 1").mkString(
      "CASE ", " ", "ELSE NULL END")
    val joins = (1 to L).map(l =>
      s"LEFT JOIN pieces_$tag p$l ON f.pos + 1 >= $l AND p$l.piece = substr(f.word, f.pos + 2 - $l, $l)")
      .mkString("\n  ")
    val initCols = "CAST(0 AS BIGINT) AS d1, " +
      (2 to L).map(l => s"CAST(NULL AS BIGINT) AS d$l").mkString(", ") +
      ", CAST(0 AS BIGINT) AS n1, " +
      (2 to L).map(l => s"CAST(NULL AS BIGINT) AS n$l").mkString(", ")
    val shiftD = (2 to L).map(l => s"f.d${l - 1}").mkString(", ")
    val shiftN = (2 to L).map(l => s"f.n${l - 1}").mkString(", ")
    s"""pieces_$tag(piece, lp) AS (VALUES
       |      $vals),
       |vit_$tag AS (
       |  SELECT word, length(word) AS len, 0 AS pos, $initCols
       |  FROM uw
       |  UNION ALL
       |  SELECT f.word, f.len, f.pos + 1,
       |    $best, $shiftD,
       |    $nbest, $shiftN
       |  FROM vit_$tag f
       |  $joins
       |  WHERE f.pos < f.len),
       |ntok_$tag AS (SELECT word, n1 AS n_tok FROM vit_$tag WHERE pos = len)""".stripMargin
  }

  def unigramTokensSql: String =
    s"""WITH RECURSIVE words AS (
       |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |uw AS (SELECT DISTINCT word FROM words),
       |${viterbiCtesSql(pieces, "u")}
       |SELECT lang,
       |  count(*) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_unigram_tokens,
       |  round(CAST(sum(length(word)) AS DOUBLE) / sum(n_tok), 4) AS chars_per_token
       |FROM words JOIN ntok_u USING (word)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // --------------------------------------------------------------------
  // Soft-EM training + likelihood-loss pruning (SentencePiece-faithful)
  // --------------------------------------------------------------------

  /** Soft-EM training — the published SentencePiece recipe next to the
    * hard-EM of [[trainPieces]]: the E-step accumulates EXPECTED piece
    * counts by forward-backward over each word's full segmentation
    * lattice (every segmentation weighted by its probability, not just
    * the Viterbi best), and pruning keeps the multi-char pieces whose
    * REMOVAL costs the most corpus likelihood — loss(p) ≈
    * expCount(p) · (log P(p) − log P_alt(p)), P_alt = the best
    * segmentation of p's own surface WITHOUT p (Kudo 2018 §3.2's
    * criterion with the Viterbi alternative). Training arithmetic is
    * plain doubles (deterministic within a JVM; the exported INTEGER
    * log-prob table is what both engines consume, so apply stays
    * bit-exact). Word lattices are ≤ [[MaxPieceLen]]-banded, so a
    * word's forward pass is O(len·L) — trivial on the seed corpus. */
  def trainPiecesSoft(wordFreq: Seq[(String, Long)],
      emIters: Int = 3): Seq[(String, Long)] = {
    val words = wordFreq.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
    val singles = ('a' to 'z').map(_.toString)
    val subCnt = scala.collection.mutable.Map.empty[String, Double]
    words.foreach { case (w, f) =>
      for (i <- 0 until w.length; l <- 2 to math.min(MaxPieceLen, w.length - i))
        subCnt(w.substring(i, i + l)) = subCnt.getOrElse(w.substring(i, i + l), 0.0) + f
    }
    var counts: Map[String, Double] =
      subCnt.filter(_._2 >= 2).toMap ++ singles.map(s => s -> math.max(1.0,
        words.collect { case (w, f) if w.contains(s) => f }.sum.toDouble)).toMap
    def probs(c: Map[String, Double]): Map[String, Double] = {
      val total = c.values.sum
      c.map { case (p, n) => p -> n / total }
    }
    var it = 0
    while (it < emIters) {
      val pr = probs(counts)
      val next = scala.collection.mutable.Map.empty[String, Double]
      words.foreach { case (w, f) =>
        val n = w.length
        val alpha = new Array[Double](n + 1); alpha(0) = 1.0
        for (i <- 1 to n; l <- 1 to math.min(MaxPieceLen, i))
          pr.get(w.substring(i - l, i)).foreach(p => alpha(i) += alpha(i - l) * p)
        val beta = new Array[Double](n + 1); beta(n) = 1.0
        for (i <- n - 1 to 0 by -1; l <- 1 to math.min(MaxPieceLen, n - i))
          pr.get(w.substring(i, i + l)).foreach(p => beta(i) += p * beta(i + l))
        if (alpha(n) > 0)
          for (i <- 0 until n; l <- 1 to math.min(MaxPieceLen, n - i)) {
            val piece = w.substring(i, i + l)
            pr.get(piece).foreach { p =>
              val exp = alpha(i) * p * beta(i + l) / alpha(n)
              if (exp > 0) next(piece) = next.getOrElse(piece, 0.0) + f * exp
            }
          }
      }
      singles.foreach(s => next(s) = math.max(1e-3, next.getOrElse(s, 0.0)))
      counts = next.toMap
      it += 1
    }
    // likelihood-loss pruning: keep the multi pieces whose removal
    // (re-segmenting their own surface without them) costs most
    val pr = probs(counts)
    val lpD = pr.map { case (p, v) => p -> math.log(v) }
    val losses = counts.keys.filter(_.length > 1).map { piece =>
      val alt = viterbi(piece, (lpD - piece)
        .map { case (p, v) => p -> math.floor(v * 1000000).toLong })
        .map(lpD).sum
      piece -> counts(piece) * (lpD(piece) - alt)
    }.toSeq
    val keptMulti = losses.sortBy { case (p, loss) => (-loss, p) }
      .take(MaxMultiPieces).map(_._1).toSet
    val kept = counts.filter { case (p, _) => p.length == 1 || keptMulti(p) }
    val total = kept.values.sum
    kept.map { case (p, n) =>
      p -> math.floor(math.log(n / total) * 1000000).toLong }.toSeq.sortBy(_._1)
  }

  /** The soft-EM query vocab on the same pinned seed corpus. */
  val piecesSoft: Seq[(String, Long)] = trainPiecesSoft(Bpe.seedCorpus)

  /** `q_tokenizer_compare`: the tokenizer-selection report — corpus
    * token totals and chars/token for the three trained vocabularies
    * (merge-rule BPE, hard-EM unigram, soft-EM unigram) over the SAME
    * word stream, one row per tokenizer. The table a pipeline owner
    * reads before fixing the tokenizer budget: higher chars/token =
    * better compression at equal vocab size. One pass over the words;
    * all three counts are native per-row expressions; the oracle
    * replays BPE as the replace chain and both unigram vocabs as two
    * tagged recursive-CTE Viterbi replays in one statement. */
  def tokenizerCompare(spark: SparkSession, sfDir: String): DataFrame = {
    // tokenize DISTINCT words once and weight by occurrence count —
    // the three tokenizer expressions are the per-row cost driver and
    // word frequency is Zipfian, so running them per OCCURRENCE
    // repeats the identical merge replay / Viterbi thousands of times
    // (guide §1.2 step 2; the oracle's own `uw` DISTINCT shape).
    // Weighted sums equal the per-occurrence sums exactly: results
    // unchanged, cost drops from O(occurrences·tokenize) to
    // O(occurrences + |vocab|·tokenize).
    val wc = Tables.documents(spark, sfDir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    def zeroSum(c: Column): Column = coalesce(sum(c), lit(0L))
    val counted = wc
      .select(col("f"), length(col("word")).as("n_chars"),
        size(graft.functions.TextFunctions.bpe_tokens(col("word"), Bpe.merges)).as("tb"),
        size(graft.functions.TextFunctions.unigram_pieces(col("word"), pieces)).as("te"),
        size(graft.functions.TextFunctions.unigram_pieces(col("word"), piecesSoft)).as("ts"))
      // an empty corpus sums to null; its report rows carry 0 instead
      .agg(zeroSum(col("f")).as("nw"), zeroSum(col("f") * col("n_chars")).as("nc"),
        zeroSum(col("f") * col("tb")).as("tb"), zeroSum(col("f") * col("te")).as("te"),
        zeroSum(col("f") * col("ts")).as("ts"))
    counted.selectExpr(
        """stack(3,
          |  'bpe', nw, tb, nc,
          |  'unigram_em', nw, te, nc,
          |  'unigram_soft', nw, ts, nc) AS (tokenizer, n_words, n_tokens, n_chars)"""
          .stripMargin)
      .select(col("tokenizer"), col("n_words").cast("long"),
        col("n_tokens").cast("long"),
        // no tokens, no ratio: null, not a divide-by-zero error
        round(try_divide(col("n_chars").cast("double"), col("n_tokens")), 4)
          .as("chars_per_token"))
      .orderBy(col("tokenizer"))
  }

  def tokenizerCompareSql: String =
    s"""WITH RECURSIVE words AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |uw AS (SELECT DISTINCT word FROM words),
       |${viterbiCtesSql(pieces, "em")},
       |${viterbiCtesSql(piecesSoft, "soft")},
       |bpec AS (SELECT word, ${Bpe.tokenCountSqlDuck("word")} AS n_tok FROM uw),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS nw,
       |    CAST(sum(length(w.word)) AS BIGINT) AS nc,
       |    CAST(sum(b.n_tok) AS BIGINT) AS tb,
       |    CAST(sum(e.n_tok) AS BIGINT) AS te,
       |    CAST(sum(s.n_tok) AS BIGINT) AS ts
       |  FROM words w
       |  JOIN bpec b USING (word)
       |  JOIN ntok_em e USING (word)
       |  JOIN ntok_soft s USING (word))
       |SELECT tokenizer, n_words, n_tokens,
       |  round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token
       |FROM (
       |  SELECT 'bpe' AS tokenizer, nw AS n_words, tb AS n_tokens, nc AS n_chars FROM agg
       |  UNION ALL
       |  SELECT 'unigram_em', nw, te, nc FROM agg
       |  UNION ALL
       |  SELECT 'unigram_soft', nw, ts, nc FROM agg)
       |ORDER BY tokenizer""".stripMargin
}
