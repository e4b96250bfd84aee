package graft.ops

import scala.collection.mutable

import graft.{SparkSpec, SparkEntry, Tables, TempDirs}

/** tx13 is REAL byte-pair encoding: the dataflow's learned vocabulary
  * must equal a from-scratch reference implementation of classic BPE
  * training (pretokenize → distinct words with frequency → per round:
  * count adjacent pairs, take the (count DESC, a, b) argmax, apply
  * the greedy leftmost merge) run on the same corpus. */
class BpeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def referenceVocab(): Map[String, Long] = {
    val re = java.util.regex.Pattern.compile(
      TextAnalysis.BpePattern.replace("''", "'"))
    val texts = Tables.documents(spark, sf).select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse(""))
    val freq = mutable.Map.empty[String, Long].withDefaultValue(0L)
    texts.foreach { t =>
      val m = re.matcher(t.toLowerCase)
      while (m.find()) freq(m.group()) += 1L
    }
    var words: Map[String, (List[String], Long)] =
      freq.toMap.map { case (w, f) => w -> (w.map(_.toString).toList, f) }
    def applyMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = mutable.ListBuffer.empty[String]
      syms.foreach { s =>
        if (out.nonEmpty && out.last == a && s == b) out(out.length - 1) = a + b
        else out += s
      }
      out.toList
    }
    (1 to TextAnalysis.BpeMerges).foreach { _ =>
      val pairs = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      words.values.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach(p => pairs(p) += f)
      }
      if (pairs.nonEmpty) {
        val (a, b) = pairs.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
        words = words.map { case (w, (syms, f)) => w -> (applyMerge(syms, a, b), f) }
      }
    }
    val vocab = mutable.Map.empty[String, Long].withDefaultValue(0L)
    words.values.foreach { case (syms, f) => syms.foreach(s => vocab(s) += f) }
    vocab.toMap
  }

  test("tx13 learned vocabulary equals a from-scratch reference BPE trainer exactly") {
    val got = SparkEntry.queries("tx13_bpe_vocab")(spark, sf).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("n_occurrences")).toMap
    val want = referenceVocab()
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("tx13 vocabulary conserves characters and actually merged something") {
    val rows = SparkEntry.queries("tx13_bpe_vocab")(spark, sf).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("n_occurrences"))
    val merged = rows.filter(_._1.length > 1)
    assert(merged.nonEmpty, "no multi-character token was learned")
    assert(merged.length <= TextAnalysis.BpeMerges,
      "more merged tokens than merge rounds")
    // conservation: post-merge tokens cover exactly the pretokenized chars
    val re = java.util.regex.Pattern.compile(
      TextAnalysis.BpePattern.replace("''", "'"))
    var chars = 0L
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      val m = re.matcher(Option(r.getString(0)).getOrElse("").toLowerCase)
      while (m.find()) chars += m.group().length
    }
    assert(rows.map { case (t, n) => t.length * n }.sum === chars)
  }

  test("training past saturation is a no-op, never an annihilation") {
    // Deep training caught this (SCALE_NOTES "Round-9: deep BPE
    // training"): once every word is fully merged the
    // pair-count frame is empty, and the old bare-crossJoin argmax
    // EMPTIED the word table (vocab read 0 after 256 merges on the
    // 61-word synthetic corpus). The sentinel guard makes a dry
    // round a no-op in both engines.
    import spark.implicits._
    val dir = TempDirs.create("graft-bpe-sat").toString
    Seq((0L, "ab ab ba", "src0", 8L), (1L, "ab cc", "src0", 5L))
      .toDF("doc_id", "text", "source", "n_chars")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // 4 distinct words ("ab", " ab", " ba", " cc"), ≤ 2 syms each
    // after char-split merges — 40 rounds is far past dry
    val wds = TextAnalysis.bpeTrainWords(spark, dir, merges = 40)
    val rows = wds.collect()
    assert(rows.length == 4, s"word table must survive saturation: ${rows.length}")
    val reprs = wds.selectExpr("w",
      s"filter(split(repr, '${TextAnalysis.BpeDelim}'), x -> x <> '') AS syms")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1))
    reprs.foreach { case (w, syms) =>
      assert(syms.mkString == w, s"characters conserved for '$w': $syms")
      assert(syms.length == 1, s"'$w' fully merged at saturation: $syms")
    }
  }

  test("batched merge round with m=1 equals the sequential round exactly") {
    val w0 = TextAnalysis.bpeWords0(spark, sf).localCheckpoint()
    val seq1 = TextAnalysis.bpeMergeRound(w0)
      .collect().map(_.toString).sorted.toSeq
    val bat1 = TextAnalysis.bpeMergeRoundBatched(w0, 1)
      .collect().map(_.toString).sorted.toSeq
    assert(seq1 == bat1)
  }

  test("batched round applies only symbol-disjoint merges, all legal") {
    val m = 8
    val w0 = TextAnalysis.bpeWords0(spark, sf).localCheckpoint()
    val before = w0.selectExpr(
      s"explode(filter(split(repr, '${TextAnalysis.BpeDelim}'), x -> x <> '')) AS t")
      .select("t").distinct().collect().map(_.getString(0)).toSet
    val after = TextAnalysis.bpeMergeRoundBatched(w0, m)
    val afterSyms = after.selectExpr(
      s"explode(filter(split(repr, '${TextAnalysis.BpeDelim}'), x -> x <> '')) AS t")
      .select("t").distinct().collect().map(_.getString(0)).toSet
    val newSyms = afterSyms -- before
    assert(newSyms.nonEmpty && newSyms.size <= m,
      s"expected 1..$m new merged symbols, got ${newSyms.size}")
    // each new symbol is the concatenation of two pre-round symbols
    // (a legal merge), and the merges are pairwise symbol-disjoint
    val parts = newSyms.toSeq.map { ns =>
      val splits = (1 until ns.length)
        .map(i => (ns.take(i), ns.drop(i)))
        .filter { case (a, b) => before(a) && before(b) }
      assert(splits.nonEmpty, s"$ns is not a merge of two prior symbols")
      splits.head
    }
    val used = parts.flatMap { case (a, b) => Seq(a, b) }
    assert(used.distinct.size == used.size,
      s"batch shares symbols between merges: $parts")
    // character conservation: the round is a regrouping, not a rewrite
    val mass = (df: org.apache.spark.sql.DataFrame) => df.selectExpr(
      s"sum(freq * length(replace(repr, '${TextAnalysis.BpeDelim}', ''))) AS m")
      .collect()(0).getLong(0)
    assert(mass(w0) == mass(after))
  }
}
