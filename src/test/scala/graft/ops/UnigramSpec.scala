package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The unigram-LM tokenizer: training determinism, Viterbi semantics,
  * and native-expression ≡ plain-Scala-replay on the real corpus. */
class UnigramSpec extends SparkTestBase {

  test("training is deterministic and keeps useful multi-char pieces") {
    assert(Unigram.pieces == Unigram.trainPieces(graft.ops.Bpe.seedCorpus),
      "retraining must reproduce the table bit-for-bit")
    val ps = Unigram.pieces.map(_._1)
    ('a' to 'z').foreach(c => assert(ps.contains(c.toString),
      s"single char $c must stay segmentable"))
    assert(ps.exists(_.length > 1),
      s"EM must retain multi-char pieces, got only singles: $ps")
    // the seed corpus is th-heavy: some th-piece must survive pruning
    assert(ps.exists(p => p.length > 1 && p.startsWith("th")), s"pieces: $ps")
  }

  test("viterbi picks the max-likelihood split, ties to the longest piece") {
    // toy table: "ab" exactly as likely as a+b — longest must win
    val lp = Map("a" -> -100L, "b" -> -100L, "ab" -> -200L, "c" -> -50L)
    assert(Unigram.viterbi("ab", lp) == Vector("ab"))
    // strictly better split wins regardless of length
    val lp2 = Map("a" -> -10L, "b" -> -10L, "ab" -> -200L)
    assert(Unigram.viterbi("ab", lp2) == Vector("a", "b"))
    assert(Unigram.viterbi("cab", lp + ("c" -> -50L)) == Vector("c", "ab"))
    assert(Unigram.viterbi("", lp).isEmpty)
  }

  test("native expression == plain-Scala replay on every corpus word") {
    val s = spark
    import s.implicits._
    val words = graft.Tables.documents(spark, sfDir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("word"))
      .distinct()
    val native = words
      .select(col("word"),
        graft.functions.TextFunctions.unigram_pieces(col("word"), Unigram.pieces)
          .as("pieces"))
      .as[(String, Seq[String])].collect()
    assert(native.nonEmpty)
    native.foreach { case (w, got) =>
      val want = Unigram.tokenize(w)
      assert(got == want, s"'$w': native $got != replay $want")
      assert(got.mkString == w, s"'$w': pieces must concatenate back to the word")
    }
  }

  test("soft-EM training is deterministic and its vocab compresses at least " +
      "as well as hard-EM on the corpus") {
    assert(Unigram.piecesSoft == Unigram.trainPiecesSoft(graft.ops.Bpe.seedCorpus))
    val ps = Unigram.piecesSoft.map(_._1)
    ('a' to 'z').foreach(c => assert(ps.contains(c.toString)))
    assert(ps.exists(_.length > 1), "likelihood-loss pruning must keep multi pieces")
    val rows = Unigram.tokenizerCompare(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rows.keySet == Set("bpe", "unigram_em", "unigram_soft"))
    assert(rows("unigram_soft") >= rows("unigram_em"),
      s"expected-count EM should not compress worse than Viterbi counts: $rows")
  }

  test("tokenizerCompare on an empty corpus: three rows of zero counts, no ratio") {
    val empty = tmpDir("emptydocs")
    graft.Tables.documents(spark, sfDir).limit(0)
      .write.mode("overwrite").parquet(s"$empty/documents.parquet")
    val rows = Unigram.tokenizerCompare(spark, empty).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("bpe", "unigram_em", "unigram_soft"))
    rows.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L,
        s"counts must be 0, not null: $r")
      assert(r.isNullAt(3), s"no tokens, no chars/token: $r")
    }
  }

  test("unigramTokens aggregates per language with exact token totals") {
    val df = Unigram.unigramTokens(spark, sfDir).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) >= r.getLong(1),
        "tokens >= words (every word is >= 1 piece)")
      assert(r.getDouble(3) >= 1.0, "chars per token >= 1")
    }
  }
}
