package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.functions.Portable

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table: token stats, quality scoring, language ID
  * (stopword-count heuristic), and document fingerprinting (rolling
  * hash). All computation is higher-order array functions over a
  * single narrow pass — no shuffle at all until the (optional)
  * ordering, so these scale linearly with corpus size.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** THE whitespace tokenizer, in Spark-SQL and DuckDB forms — the
    * single definition every text-consuming operator family (tx, dd,
    * ds/df) shares, so a tokenization tweak can never desynchronize
    * them. */
  val tokensExpr = "filter(split(lower(text), ' +'), t -> t <> '')"
  val tokensSql = "list_filter(regexp_split_to_array(lower(text), ' +'), t -> t <> '')"

  /** 3-word shingles over a `tokens` column (0-based arrays in Spark,
    * 1-based in DuckDB) — shared by the dedup family and tx08. */
  val shinglesExpr =
    """CASE WHEN size(tokens) >= 3
      |  THEN transform(sequence(0, size(tokens) - 3),
      |                 i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))
      |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin
  val shinglesSql =
    """CASE WHEN len(tokens) >= 3
      |  THEN list_transform(generate_series(1, len(tokens) - 2),
      |                      i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])
      |  ELSE [] END""".stripMargin

  /** n-word grams over a `tokens` column — the parameterized
    * generalization of [[shinglesExpr]] (0-based arrays in Spark,
    * 1-based in DuckDB). Production decontamination units are LONG
    * exact grams (GPT-3 used 13-grams, Lee et al. 50-char spans);
    * [[Pipeline.DecontamGramN]] uses 8. */
  def gramsExpr(n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "tokens[i]" else s"tokens[i+$j]").mkString(", ")
    s"""CASE WHEN size(tokens) >= $n
       |  THEN transform(sequence(0, size(tokens) - $n),
       |                 i -> concat_ws(' ', $parts))
       |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin
  }
  def gramsSql(n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "tokens[i]" else s"tokens[i+$j]")
      .mkString(" || ' ' || ")
    s"""CASE WHEN len(tokens) >= $n
       |  THEN list_transform(generate_series(1, len(tokens) - ${n - 1}),
       |                      i -> $parts)
       |  ELSE [] END""".stripMargin
  }

  /** 2-word shingles over a `tokens` column — tx10's corpus-level
    * n-gram unit (3-word shingles stay the dedup-family unit). */
  val bigramsExpr =
    """CASE WHEN size(tokens) >= 2
      |  THEN transform(sequence(0, size(tokens) - 2),
      |                 i -> concat_ws(' ', tokens[i], tokens[i+1]))
      |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin
  val bigramsSql =
    """CASE WHEN len(tokens) >= 2
      |  THEN list_transform(generate_series(1, len(tokens) - 1),
      |                      i -> tokens[i] || ' ' || tokens[i+1])
      |  ELSE [] END""".stripMargin

  /** Corpus n-grams kept by tx10. */
  val NgramTopK = 50

  /** tx11 sliding-window chunking: window/stride in tokens (16-token
    * overlap) — the RAG/embedding chunking shape. */
  val ChunkWindow = 64L
  val ChunkStride = 48L

  /** tx12: vocabulary size for the coverage gate — deliberately
    * smaller than the synthetic corpus's 31-token vocabulary so the
    * OOV signal is non-degenerate at test scale; a production run
    * sizes this to the tokenizer vocab (10⁴-10⁵). */
  val VocabTopK = 16

  /** Stopword inventories per language for the lang-ID heuristic.
    * (Deliberately tiny — this is an operator shape, not a model.) */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "los", "las", "de", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"))

  /** `(t = 'w1' OR ...)` membership predicate over a lambda var `t` —
    * shared with the curation quality gate. */
  def inList(words: Seq[String]): String =
    words.map(w => s"t = '$w'").mkString("(", " OR ", ")")

  /** Top-k terms kept per document by tx07. */
  val TfidfTopK = 3

  /** tx15 BM25 parameters — the Robertson/Sparck-Jones defaults every
    * production lexical retriever ships (Lucene, Elasticsearch,
    * Pyserini all default to k1∈[1.2,2], b=0.75). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Documents returned per query by tx15. */
  val Bm25TopK = 10

  /** tx15's fixed query workload — term sets over the synthetic
    * corpus vocabulary, including one rare term (`dup`, df ≈ n/400)
    * so the idf axis is non-degenerate: q2's ranking is dominated by
    * the rare term while q0/q1/q3 exercise the tf/length
    * normalization axes. Literal VALUES in both engines. */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("query", "filter", "join"),
    1 -> Seq("stream", "window", "batch"),
    2 -> Seq("dup", "scan"),
    3 -> Seq("customer", "order", "line"))

  /** `(VALUES ...)`-body shared by the Spark and DuckDB forms. */
  private[ops] def bm25Values: String = Bm25Queries
    .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
    .mkString(", ")

  /** "Short token" length bound shared by tx02 and the fused
    * `token_stats` kernel. */
  val ShortTokenLen = 2

  /** Re-index trigger for the lexical-index lifecycle (dq08):
    * smoothed KL divergence of a new batch's term distribution
    * (top-[[VocabTopK]] vocabulary + OOV bucket) from the indexed
    * corpus's, above which the batch is declared vocabulary-shifted
    * and a postings rebuild (refreshing tx20's impact ranks and
    * stored df) is warranted — [[Similarity.KlRetrainThreshold]]'s
    * lexical sibling. */
  val VocabDriftThreshold = 0.05

  /** dq08's detector as a reusable core (round 16, VERDICT item 4 —
    * so the tx22 maintenance loop CONSUMES the same arithmetic the
    * dq08 catalog entry hash-checks): term-occupancy KL of the
    * `isNew` batch vs the rest over the old batch's
    * top-[[VocabTopK]] vocabulary + OOV bucket, add-1 smoothed,
    * per-bucket contributions rounded 6 dp and summed DECIMAL-exact.
    * Returns the per-bucket frame + the `__total__` summary row
    * whose `reindex` flag is the trigger. Bounded state:
    * ≤ VocabTopK+1 grouped rows; the only corpus-sized work is one
    * tokenize pass. */
  def vocabDriftSummary(docs: org.apache.spark.sql.DataFrame,
      isNew: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode_outer(expr(tokensExpr)).as("term"))
      .filter(col("term").isNotNull)
      .withColumn("is_new", isNew)
    val vocab = toks.filter(!col("is_new")).groupBy("term")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(VocabTopK)
      .select(col("term").as("vterm"))
    val counts = toks
      .join(broadcast(vocab), toks("term") === col("vterm"), "left")
      .withColumn("bucket", coalesce(col("vterm"), lit("__oov__")))
      .groupBy("bucket").agg(
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("old_n"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("new_n"))
    val w = Window.partitionBy() // bounded: ≤ VocabTopK+1 rows
    val terms = counts
      .withColumn("kk", count(lit(1)).over(w).cast(DoubleType))
      .withColumn("p", (col("old_n") + lit(1L)).cast(DoubleType) /
        (sum(col("old_n")).over(w).cast(DoubleType) + col("kk")))
      .withColumn("q", (col("new_n") + lit(1L)).cast(DoubleType) /
        (sum(col("new_n")).over(w).cast(DoubleType) + col("kk")))
      .withColumn("kl_term", round(col("q") * log(col("q") / col("p")), 6))
    val perBucket = terms.select(col("bucket"), col("old_n"), col("new_n"),
      col("kl_term"),
      lit(null).cast(DoubleType).as("kl_total"),
      lit(null).cast("boolean").as("reindex"))
    val summary = terms.agg(
      sum(col("old_n")).as("old_n"), sum(col("new_n")).as("new_n"),
      sum(col("kl_term").cast(DecimalType(18, 6))).cast(DoubleType).as("kl_total"))
      .select(lit("__total__").as("bucket"), col("old_n"), col("new_n"),
        lit(null).cast(DoubleType).as("kl_term"), col("kl_total"),
        (col("kl_total") > lit(VocabDriftThreshold)).as("reindex"))
    perBucket.unionByName(summary)
  }

  /** The drift DECISION alone: `true` when the batch's vocabulary
    * shifted past [[VocabDriftThreshold]] — the 1-row driver-side
    * read the tx22 maintenance loop gates its conditional
    * [[LexIndex.reindexImpact]] on (a control-flow scalar, not data
    * movement). */
  def vocabDriftReindex(docs: org.apache.spark.sql.DataFrame,
      isNew: org.apache.spark.sql.Column): Boolean =
    vocabDriftSummary(docs, isNew)
      .filter(col("bucket") === "__total__")
      .select("reindex").collect().head.getBoolean(0)

  /** GPT-2-ish pretokenizer pattern (contractions, space-prefixed
    * letter runs, digit runs, punct runs), kept in the Java∩RE2
    * common regex subset; SQL-literal form with doubled apostrophes
    * so the SAME text drops into Spark `expr` and DuckDB SQL. */
  val BpePattern =
    "''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  /** tx13: BPE merge rounds (bounded — each round is one pair-count
    * aggregate + one fold pass over the distinct-word table). */
  val BpeMerges = 6

  /** tx13: symbol delimiter inside a word's flattened representation
    * (U+001F unit separator — never produced by [[BpePattern]], whose
    * classes cover letters, digits, space, and printable punct). */
  val BpeDelim = "\u001f"

  val queries: Map[String, Q] = Map(
    // Token counting: whitespace tokens + distinct + mean length.
    // All counters come from ONE fused codegen pass (token_stats,
    // functions/VectorExprs) instead of three interpreted HOF sweeps;
    // every field is exact-integer-identical to the HOF form, so the
    // oracle SQL is unchanged.
    "tx01_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ts", expr(s"token_stats($tokensExpr)"))
        .select(
          col("doc_id"),
          col("ts.n").as("n_tokens"),
          col("ts.n_distinct").as("n_distinct"),
          expr("""CASE WHEN ts.n = 0 THEN NULL ELSE
                 |round(CAST(ts.len_sum AS DOUBLE)
                 |      / CAST(ts.n AS DOUBLE), 6) END""".stripMargin)
            .as("avg_token_len"))
        .orderBy("doc_id")
    }),

    // Quality scoring: stopword / short-token ratios → score
    "tx02_quality" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ts", expr(s"token_stats($tokensExpr)"))
        .withColumn("n", col("ts.n"))
        .withColumn("stop_cnt", col("ts.stop_cnt"))
        .withColumn("short_cnt", col("ts.short_cnt"))
        .select(
          col("doc_id"),
          expr("CAST(length(text) AS BIGINT)").as("n_chars_actual"),
          expr("round(CAST(stop_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE), 6)")
            .as("stopword_ratio"),
          expr("round(CAST(short_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE), 6)")
            .as("short_ratio"),
          expr("""round(1.0 - 0.5 * (CAST(stop_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE))
                 |          - 0.5 * (CAST(short_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE)), 6)""".stripMargin)
            .as("quality_score"))
        .orderBy("doc_id")
    }),

    // Language ID: per-language stopword hit counts, argmax with a
    // fixed tie order (en > de > es > fr)
    "tx03_langid" -> ((s, d) => {
      val base = Tables.documents(s, d).withColumn("tokens", expr(tokensExpr))
      val scored = LangStopwords.foldLeft(base) { case (df, (lang, words)) =>
        df.withColumn(s"${lang}_score",
          expr(s"CAST(size(filter(tokens, t -> ${inList(words)})) AS BIGINT)"))
      }
      scored.select(
        col("doc_id"), col("lang"),
        expr("""CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
               |     WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
               |     WHEN es_score >= fr_score THEN 'es'
               |     ELSE 'fr' END""".stripMargin).as("predicted_lang"),
        col("en_score"), col("de_score"), col("es_score"), col("fr_score"))
        .orderBy("doc_id")
    }),

    // GPT-2-style PRETOKENIZER stats (contractions, space-prefixed
    // letter runs, digit runs, punct runs) — the token count an LLM
    // data pipeline budgets by, plus fertility = regex tokens per
    // whitespace word. The pattern stays in the Java∩RE2 common
    // subset so Spark and the oracle match per-character. This is
    // stage ONE of real BPE: tx13 trains an actual merge table over
    // these pretokens and applies it.
    "tx06_bpe_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bpe",
          expr(s"regexp_extract_all(lower(text), '$BpePattern', 0)"))
        .withColumn("ws_n", expr(s"size($tokensExpr)"))
        .select(col("doc_id"),
          expr("CAST(size(bpe) AS BIGINT)").as("n_bpe_tokens"),
          expr("""CASE WHEN size(bpe) = 0 THEN NULL ELSE
                 |round(CAST(aggregate(bpe, 0, (a, t) -> a + length(t)) AS DOUBLE)
                 |      / CAST(size(bpe) AS DOUBLE), 6) END""".stripMargin)
            .as("avg_bpe_len"),
          expr("round(CAST(size(bpe) AS DOUBLE) / CAST(nullif(ws_n, 0) AS DOUBLE), 6)")
            .as("fertility"))
        .orderBy("doc_id")),

    // TF-IDF top terms per document — the inverted-index shape:
    // explode → per-(doc,term) tf → per-term df → score join → top-k
    // per doc. Both aggregations are partial (map-side combined); the
    // only exchanges are on (doc_id,term) and term — the classic
    // linear indexing dataflow, no broadcast of anything corpus-sized
    // (N rides a 1-row broadcast). ln() is libm: its output is
    // rounded to 6 dp at the projection boundary (oracle-parity
    // rule); rank ties on equal (tf, df) resolve by term asc.
    "tx07_tfidf" -> ((s, d) => {
      // explode_outer + isnotnull (not plain explode) on both token
      // streams: inner explode's inferred `size(...) > 0` filter
      // re-runs the tokenize HOF chain a second time per row
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode_outer(expr(s"array_distinct($tokensExpr)")).as("term"))
        .filter(col("term").isNotNull)
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode_outer(expr(tokensExpr)).as("term"))
        .filter(col("term").isNotNull)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tok.groupBy("term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      // rank on the ROUNDED score: ln is libm, so ranking raw
      // doubles would let a 1-ulp JVM-vs-DuckDB difference flip
      // which term survives the top-k (oracle-parity rule); at 6 dp
      // both engines see the same key, ties break on term
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)
      tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          expr("round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TfidfTopK)
        .select(col("doc_id"), col("rk").cast("int").as("rk"), col("term"),
          col("tf"), col("df"), col("tfidf"))
        .orderBy("doc_id", "rk")
    }),

    // Gopher-style repetition signal: the fraction of a document's
    // 3-gram shingles that are repeats (1 - distinct/total). One
    // narrow HOF pass, no shuffle until the sort — the standard
    // within-doc duplication gate an LLM data pipeline applies before
    // any cross-doc dedup.
    "tx08_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("sh", expr(shinglesExpr))
        .select(col("doc_id"),
          expr("CAST(size(sh) AS BIGINT)").as("n_shingles"),
          expr("CAST(size(array_distinct(sh)) AS BIGINT)").as("n_distinct"),
          expr("""CASE WHEN size(sh) = 0 THEN NULL ELSE
                 |round(1.0 - CAST(size(array_distinct(sh)) AS DOUBLE)
                 |            / CAST(size(sh) AS DOUBLE), 6) END""".stripMargin)
            .as("rep_ratio"))
        .orderBy("doc_id")),

    // Token-distribution Shannon entropy per doc — the diversity
    // signal quality pipelines pair with tx08's repetition ratio
    // (low entropy = boilerplate/keyword stuffing). One narrow HOF
    // pass; the distinct-token array is SORTED before the fold so
    // both engines accumulate in the same order (list_distinct's
    // order is not contractual), and ln() output is rounded at the
    // projection boundary per the parity rules.
    "tx09_entropy" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("n", size(col("tokens")))
        .withColumn("dt", expr("array_sort(array_distinct(tokens))"))
        // one count scan per distinct term (the count feeds both p
        // and ln p); `0.0 -` instead of unary minus so an all-same-
        // token doc yields +0.0 in both engines (Spark's round drops
        // the -0.0 sign, DuckDB's keeps it)
        .withColumn("cnts",
          expr("transform(dt, t -> CAST(size(filter(tokens, u -> u = t)) AS DOUBLE))"))
        .select(col("doc_id"),
          col("n").cast("long").as("n_tokens"),
          expr("CAST(size(dt) AS BIGINT)").as("n_distinct"),
          expr("""CASE WHEN n = 0 THEN NULL ELSE
                 |round(0.0 - aggregate(
                 |  transform(cnts, c -> (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))),
                 |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6) END""".stripMargin)
            .as("entropy"))
        .orderBy("doc_id")),

    // Document fingerprint: rolling polynomial hash over token
    // hashes, mod 1e9+7 (all exact integer math)
    "tx04_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .select(col("doc_id"),
          expr(s"""aggregate(transform(tokens, t -> ${Portable.phashExpr("t")} % 1000003),
                  |          CAST(0 AS BIGINT),
                  |          (h, x) -> ((h * 31) + x) % 1000000007)""".stripMargin)
            .as("fingerprint"))
        .orderBy("doc_id")),

    // Corpus-level top-k n-grams (bigrams): term frequency + document
    // frequency over the whole corpus — the vocabulary/boilerplate
    // profiling pass pipelines run before choosing stop-lists or
    // tokenizer merges. Dataflow: narrow shingle pass → explode →
    // ONE hash aggregation on the ngram (tf via count, df via
    // count(distinct doc_id) — Spark plans the distinct as a
    // two-stage partial aggregate, both map-side combined) → global
    // top-k, which executes as TakeOrderedAndProject (per-partition
    // heaps + driver merge of k rows), never a full sort. The sort
    // key (tf desc, ngram asc) is total, so LIMIT is deterministic.
    // At 100 TB the same plan holds; if exact df per ngram ever
    // dominates, the documented relaxation is approx_count_distinct
    // (HLL, a15's sketch) — not used here because the oracle compare
    // needs exact counts.
    // Two plan-shape choices matter here:
    //   - explode_OUTER + isnotnull, not plain explode: the optimizer
    //     infers a `size(bigrams) > 0` pre-Generate filter for inner
    //     explode, and that predicate re-evaluates the whole
    //     tokenize+shingle HOF chain a second time per row (2× the
    //     dominant cost; the outer form generates one null instead
    //     and the post-filter is a cheap column test);
    //   - df via an explicit (ngram, doc_id) pre-aggregate rather
    //     than count(distinct doc_id): per-doc repeats collapse
    //     map-side before the exchange, where the Expand-based
    //     distinct plan ships every exploded row twice.
    "tx10_ngram_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("bigrams", expr(bigramsExpr))
        .select(col("doc_id"), explode_outer(col("bigrams")).as("ngram"))
        .filter(col("ngram").isNotNull)
        .groupBy("ngram", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("ngram")
        .agg(sum(col("c")).cast("long").as("tf"), count(lit(1)).as("df"))
        .orderBy(col("tf").desc, col("ngram").asc)
        .limit(NgramTopK)),

    // Sliding-window document chunking — the retrieval/embedding prep
    // step: each doc splits into ChunkWindow-token chunks advancing by
    // ChunkStride (16-token overlap), each chunk pinned by a compact
    // digest. One narrow pass (tokenize → per-doc chunk-index sequence
    // → explode_outer → slice + digest); no shuffle until the final
    // sort, so it scales linearly in corpus bytes. Chunk count is
    // 1 + ceil(max(0, n - window)/stride) — one window, plus a stride
    // advance per remaining tail; the last chunk may run short but is
    // never a subsequence of its predecessor (a plain ceil(n/stride)
    // emits a fully-contained duplicate tail chunk whenever
    // n mod stride ∈ (0, window - stride]). Empty docs chunk to
    // nothing. At 100 TB the chunk table feeds the embedding pass
    // (mapInPandas batch shape, see Multimodal) and the digest column
    // makes re-embedding incremental (content-addressed skip).
    "tx11_chunk_windows" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("n", expr("CAST(size(tokens) AS BIGINT)"))
        .select(col("doc_id"), col("tokens"), col("n"),
          explode_outer(expr(
            s"CASE WHEN n > 0 THEN sequence(CAST(0 AS BIGINT), CAST(ceil(CAST(greatest(n - $ChunkWindow, 0) AS DOUBLE) / $ChunkStride) AS BIGINT)) ELSE CAST(array() AS ARRAY<BIGINT>) END"))
            .as("chunk_id"))
        .filter(col("chunk_id").isNotNull)
        .withColumn("start_tok", expr(s"chunk_id * $ChunkStride"))
        .withColumn("n_tok", expr(s"least(CAST($ChunkWindow AS BIGINT), n - start_tok)"))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("n_tok"),
          expr(s"substring(md5(concat_ws(' ', slice(tokens, CAST(start_tok + 1 AS INT), CAST(n_tok AS INT)))), 1, 16)")
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // Vocabulary coverage / OOV-rate gate — the tokenizer-fit signal
    // a pretraining pipeline checks before committing a corpus to a
    // fixed vocab: build the top-V vocabulary by corpus frequency
    // (ties broken lexically so the cut is deterministic), then score
    // each doc by the fraction of its tokens falling outside it.
    // Two passes over the token stream: the vocab build reduces to a
    // vocab-sized frame via TakeOrderedAndProject (top-V never sorts
    // the full count frame), and the scoring pass probes the
    // BROADCAST vocab — the dd10/lm01 asymmetry: the model side is
    // bounded (tokenizer vocabs are 10⁴-10⁵ entries at any corpus
    // size) while the corpus side stays narrow. High OOV-rate docs
    // are the ones a subword tokenizer will shred into char-level
    // fragments — the standard exclusion/re-train trigger.
    "tx12_vocab_coverage" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .filter(expr("size(tokens) > 0"))
        .select(col("doc_id"), explode(col("tokens")).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(VocabTopK)
        .select(col("token"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Corpus-trained unigram LM scoring — the perplexity-proxy
    // quality signal (CCNet/KenLM's role, unigram order): pass 1
    // aggregates token counts over the whole corpus (map-side
    // combinable, vocab-sized result); pass 2 joins each doc's
    // tokens to the BROADCAST model and averages the add-one-
    // smoothed negative log-likelihood -ln((c+1)/(N+V)) per doc.
    // Natural-language vocab is bounded (zipf: ~10⁷ entries at
    // 100 TB ≈ a few hundred MB) so the model broadcast holds at
    // scale; high avg_nll = out-of-distribution / junk text, the
    // standard filter axis. The per-doc mean is decimal-exact
    // (Tables.dsum rationale): addends are identical doubles in both
    // engines (ln parity — tx09), fixed to 8 decimals, summed
    // exactly — immune to grouping order.
    "lm01_unigram_lm" -> ((s, d) => {
      // `toks` deliberately NOT cached despite two consumers (model
      // build + probe): recompute is one split+explode — cheap,
      // unlike dd05/dd11's md5 chains — and pinning a corpus-sized
      // token stream is exactly what the 100 TB posture avoids
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(expr(tokensExpr)).as("tok"))
      val model = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val stats = model.agg(
        sum(col("c")).cast(DoubleType).as("N"),
        count(lit(1)).cast(DoubleType).as("V"))
      toks.join(broadcast(model), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("nll", expr("0.0 - ln((CAST(c AS DOUBLE) + 1.0) / (N + V))"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum(col("nll").cast(DecimalType(18, 8))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("raw_nll"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("raw_nll"), 6).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // REAL byte-pair encoding (round 5) — tx06's pretokenizer is
    // stage one; this trains an actual merge table on the corpus and
    // applies it. Training state is the DISTINCT-pretoken table with
    // corpus frequencies (the standard BPE working set — vocab-sized,
    // zipf-bounded, never the corpus); each of the [[BpeMerges]]
    // bounded rounds is:
    //   (1) ONE map-side-combinable aggregate counting adjacent
    //       symbol pairs weighted by word frequency;
    //   (2) the argmax pair as a 1-ROW broadcast (ties break
    //       (count DESC, a, b) — total order, no driver collect);
    //   (3) ONE fold pass re-writing each word's symbol string:
    //       greedy leftmost merge, expressed as a left fold over the
    //       delimited symbol representation where the merge case is
    //       literally `acc || s` (appending b to an acc ending in
    //       delimiter+a fuses the pair) — the same lambda text runs
    //       in Spark `aggregate` and DuckDB `list_reduce`, so the
    //       oracle replays training move for move.
    // Output: the learned vocabulary with post-merge corpus
    // occurrence counts (vocab size = row count; multi-char tokens
    // are the trained merges). At 100 TB the word table is the only
    // distributed state and every round exchanges vocab-sized
    // aggregates — the dataflow HuggingFace's trainer runs in RAM,
    // as a Spark plan.
    "tx13_bpe_vocab" -> ((s, d) =>
      bpeTrainedWords(s, d)
        .select(col("freq"), explode(expr(bpeSyms)).as("token"))
        .groupBy("token")
        .agg(sum(col("freq")).as("n_occurrences"))
        .orderBy("token")),

    // ENCODE with the trained tokenizer — closes the tx06→tx13 loop
    // (pretokenize → train → apply): every doc's words look up their
    // final merged representation in the trained word table (a
    // broadcast-sized distinct-word frame — the same Heaps'-law bound
    // as tx13's working set), and the doc-level token count /
    // fertility drop out of one aggregation. No per-doc merge
    // replay: the fold already ran once per DISTINCT word during
    // training — encode is a join, which is exactly why trained-
    // tokenizer application scales to corpus passes.
    "tx14_bpe_encode" -> ((s, d) => {
      val words = bpeTrainedWords(s, d)
        .withColumn("ntok", expr(s"CAST(size($bpeSyms) AS BIGINT)"))
        .select("w", "ntok")
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode_outer(expr(s"regexp_extract_all(lower(text), '$BpePattern', 0)")).as("w"))
        .join(broadcast(words), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(col("w")).as("n_words"),
          coalesce(sum(col("ntok")), lit(0L)).as("n_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          when(col("n_words") > 0,
            round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6))
            .as("fertility"))
        .orderBy("doc_id")
    }),

    // VOCABULARY-DRIFT re-index trigger (dq08; round 15) — dq07's
    // KL-divergence discipline applied to the LEXICAL index: the
    // monitored distribution is term occupancy over the indexed
    // corpus's top-[[VocabTopK]] vocabulary plus an OOV bucket (the
    // fixed-vocab drift monitor production text pipelines run), old
    // corpus vs an arriving quarter. The batch boundary is a dense-id
    // modulo — dq07's convention: an ORACLE-EXPRESSIBLE STAND-IN for
    // the lifecycle fixtures' hash quarter (Spark's hash has no
    // DuckDB mirror; doc_ids are dense so the quarter is the same
    // size — NOT the same rows, which is fine: the detector monitors
    // whatever batch its caller designates). Add-1 smoothed,
    // per-bucket contributions
    // rounded 6 dp (ln parity) and summed DECIMAL-exact. The summary
    // row's `reindex` flag is the signal that tx20's build-time
    // impact ranks and stored df have gone stale enough to warrant a
    // postings rebuild — the detector that closes the
    // impact-ordered-index maintenance loop. Bounded state: ≤
    // VocabTopK+1 grouped rows; the only corpus-sized work is one
    // tokenize pass.
    "dq08_vocab_drift" -> ((s, d) =>
      vocabDriftSummary(Tables.documents(s, d),
        pmod(col("doc_id"), lit(4)) === lit(0)).orderBy("bucket")),

    // BM25 top-k retrieval (tx15; round 14) — the lexical-search
    // scorer tx07's tf-idf approximates: Robertson idf with tf
    // saturation ([[Bm25K1]]) and length normalization ([[Bm25B]]),
    // over the fixed [[Bm25Queries]] workload. The dataflow is the
    // inverted-index build a batch retriever runs at corpus scale:
    // ONE tokenize+explode pass semi-joined to the BROADCAST query
    // vocabulary (candidates shrink to matching postings before any
    // exchange — at 100 TB the only corpus-sized shuffle is the
    // (doc, term) partial-aggregated tf), df and the corpus stats
    // are term- and 1-row-sized broadcasts. Per-term scores are
    // rounded at 6 dp (ln is libm — tx07's parity rule) and summed
    // DECIMAL-exact per (query, doc) so grouping order can't flip a
    // rank (lm01's rationale). The final per-query top-k runs as a
    // rank-filter window: Spark 4 plans it as WindowGroupLimit with
    // a PARTIAL map-side pass, so each task keeps k rows and the
    // query_id exchange carries k·tasks rows, never the postings —
    // Round14OpsSpec pins that plan shape.
    "tx15_bm25_topk" -> ((s, d) => {
      val qt = s.sql(
        s"SELECT query_id, term FROM (VALUES $bm25Values) AS q(query_id, term)")
      val docs = Tables.documents(s, d).withColumn("tokens", expr(tokensExpr))
      val dl = docs.select(col("doc_id"),
        expr("CAST(size(tokens) AS BIGINT)").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val tf = docs
        .select(col("doc_id"), explode_outer(col("tokens")).as("term"))
        .filter(col("term").isNotNull)
        .join(broadcast(qt.select("term").distinct()), Seq("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf
        .join(broadcast(df), Seq("term"))
        .join(broadcast(qt), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("score", expr(
          s"""round(
             |  ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
             |           / (CAST(df AS DOUBLE) + 0.5))
             |  * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
             |  / (CAST(tf AS DOUBLE)
             |     + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
             |                  * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))),
             |  6)""".stripMargin))
      val perDoc = scored.groupBy("query_id", "doc_id")
        .agg(sum(col("score").cast(DecimalType(18, 8))).cast(DoubleType).as("bm25"),
          count(lit(1)).as("n_terms"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("bm25").desc, col("doc_id").asc)
      perDoc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= Bm25TopK)
        .select(col("query_id"), col("rk").cast("int").as("rk"),
          col("doc_id"), col("bm25"), col("n_terms"))
        .orderBy("query_id", "rk")
    })
  )

  /** Final symbol list of a trained word-repr (shared by tx13/tx14). */
  private val bpeSyms = s"filter(split(repr, '$BpeDelim'), x -> x <> '')"

  /** The tx13 training dataflow: distinct pretokenized words with
    * frequencies, folded through [[BpeMerges]] greedy merge rounds
    * (pair-count aggregate → broadcast argmax → leftmost-merge fold
    * per word). Returns (w, freq, repr) — repr is the word's final
    * delimiter-joined symbol sequence. Each round rescans the
    * DISTINCT-word table only (Heaps'-law working set), never the
    * corpus. */
  /** The initial distinct-word table: (w, freq, repr) with repr the
    * per-character delimiter-split representation. PURE PLAN — callers
    * checkpoint (tx13 via [[bpeTrainWords]]). */
  private[graft] def bpeWords0(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode_outer(expr(s"regexp_extract_all(lower(text), '$BpePattern', 0)")).as("w"))
      .filter(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("repr", expr(s"regexp_replace(w, '(.)', '$BpeDelim$$1')"))
      .select("w", "freq", "repr")

  /** The adjacent-pair frequency aggregate over a word table —
    * vocab-sized output, map-side combinable. */
  private[graft] def bpePairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"), explode(expr(
        s"""CASE WHEN size($bpeSyms) < 2
           |THEN CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
           |ELSE transform(sequence(1, size($bpeSyms) - 1),
           |  i -> struct(element_at($bpeSyms, i) AS a,
           |              element_at($bpeSyms, i + 1) AS b)) END""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** One greedy merge round as a PURE PLAN (no checkpoint):
    * pair-count aggregate → 1-row broadcast argmax → leftmost-merge
    * fold. NOTE the returned plan embeds `words` TWICE (under the
    * argmax and under the fold), so chaining k un-checkpointed rounds
    * grows the plan tree 2^k-fold — callers checkpoint on a short
    * cadence (SCALE_NOTES "Round-9: deep BPE training": cadence 2 ≈
    * cadence 1 within noise, cadence 4 already ~35% slower — the opposite regime from
    * PageRank's linear chains, where cadence ~10 wins). tx13 uses
    * cadence 1. */
  private[graft] def bpeMergeRound(words: DataFrame): DataFrame = {
    val D = BpeDelim
    // Saturation guard: when no adjacent pair remains (every word
    // fully merged — reachable on small vocabularies at production
    // merge depths), the argmax frame is EMPTY and a bare crossJoin
    // would ANNIHILATE the word table (deep training caught this
    // around merge ~125/256 on the 61-word synthetic corpus: vocab
    // read 0). The cnt=-1 sentinel of empty symbols can never beat a
    // real pair and never matches a symbol (bpeSyms filters '' out),
    // so a dry round is a no-op; the oracle carries the same UNION.
    val best = bpePairCounts(words)
      .unionByName(words.sparkSession.range(1)
        .select(lit("").as("a"), lit("").as("b"), lit(-1L).as("cnt")))
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc).limit(1)
      .select(col("a").as("ba"), col("b").as("bb"))
    words.crossJoin(broadcast(best))
      .withColumn("repr", expr(
        s"""aggregate($bpeSyms, '',
           |  (acc, s) -> CASE WHEN s = bb
           |                    AND right(acc, length(ba) + 1) = concat('$D', ba)
           |              THEN concat(acc, s)
           |              ELSE concat(acc, '$D', s) END)""".stripMargin))
      .select("w", "freq", "repr")
  }

  /** BATCHED merge round: apply up to `m` SYMBOL-DISJOINT top pairs
    * in one fold pass — the move that makes a 32K-merge production
    * vocab tractable (32K sequential rounds → ~32K/m scans). The
    * candidate pool is the top 4m pairs (bounded, broadcastable); a
    * pair survives if NO higher-ranked pool pair shares a symbol with
    * it — conservative greedy (a pair blocked by an already-blocked
    * pair is also dropped), which keeps selection a single bounded
    * anti-join instead of a sequential scan. The batch is LEGAL in
    * the sense that the combined one-pass fold (map b → a, same
    * tail-check as the single-pair fold) equals applying the selected
    * pairs sequentially in RANK ORDER — not in arbitrary order: the
    * symbol-disjointness anti-join compares the pairs' input symbols,
    * so a pair whose symbol equals the CONCATENATION of a
    * higher-ranked pair (e.g. (x,y) then (xy,z)) can pass and then
    * cascade inside the fold, exactly as rank-order sequential
    * application would (round-9 ADVICE — the prior claim of
    * order-independence was too strong; behavior is deterministic
    * and unchanged). m = 1 degenerates to exactly
    * [[bpeMergeRound]]'s choice (BpeSpec pins this). */
  private[graft] def bpeMergeRoundBatched(words: DataFrame, m: Int): DataFrame = {
    val D = BpeDelim
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
    val pool = bpePairCounts(words)
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc).limit(4 * m)
      .withColumn("rk", row_number().over(w))
    val surv = pool.as("p")
      .join(pool.as("q"),
        col("q.rk") < col("p.rk") &&
          (col("q.a") === col("p.a") || col("q.a") === col("p.b") ||
            col("q.b") === col("p.a") || col("q.b") === col("p.b")),
        "left_anti")
      .orderBy(col("rk")).limit(m)
    // disjointness ⇒ the merged-into symbols `b` are unique: one map
    // b → a drives the single fold pass for the whole batch
    val pm = surv.agg(
      map_from_entries(collect_list(struct(col("b"), col("a")))).as("pm"))
    words.crossJoin(broadcast(pm))
      .withColumn("repr", expr(
        s"""aggregate($bpeSyms, '',
           |  (acc, s) -> CASE WHEN pm[s] IS NOT NULL
           |                    AND right(acc, length(pm[s]) + 1) = concat('$D', pm[s])
           |              THEN concat(acc, s)
           |              ELSE concat(acc, '$D', s) END)""".stripMargin))
      .select("w", "freq", "repr")
  }

  /** tx13/tx14's trainer: [[BpeMerges]] sequential greedy rounds,
    * checkpoint-rolled every round with superseded-checkpoint release
    * ([[Ckpt.roll]]); deeper cadences buy nothing here because each
    * un-checkpointed round DOUBLES the plan tree (SCALE_NOTES
    * "Round-9: deep BPE training" — see [[bpeMergeRound]]). */
  private def bpeTrainedWords(s: SparkSession, d: String): DataFrame =
    bpeTrainWords(s, d, BpeMerges)

  private[graft] def bpeTrainWords(s: SparkSession, d: String,
      merges: Int): DataFrame = {
    var (wds, ids) = Ckpt.roll(s, bpeWords0(s, d), Set.empty[Int])
    for (_ <- 1 to merges) {
      val rolled = Ckpt.roll(s, bpeMergeRound(wds), ids)
      wds = rolled._1
      ids = rolled._2
    }
    wds
  }

  /** tx13's oracle: the BpeMerges training rounds unrolled as CTE
    * triples (pair counts / argmax / fold), replaying the operator
    * move for move — the PQ-training mirroring convention. */
  private def bpeVocabSql: String = {
    val D = BpeDelim
    def syms(c: String) = s"list_filter(string_split($c, '$D'), x -> x <> '')"
    val rounds = (1 to BpeMerges).map { t =>
      val prev = s"w${t - 1}"
      s"""p$t AS (
         |  SELECT s.a AS a, s.b AS b, sum(freq) AS cnt FROM (
         |    SELECT freq,
         |           unnest(list_transform(generate_series(1, len(syms) - 1),
         |             i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS s
         |    FROM (SELECT freq, ${syms("repr")} AS syms FROM $prev)
         |  ) GROUP BY 1, 2
         |),
         |b$t AS (SELECT a AS ba, b AS bb FROM (
         |  SELECT a, b, cnt FROM p$t UNION ALL SELECT '', '', -1
         |) ORDER BY cnt DESC, a, b LIMIT 1),
         |w$t AS (
         |  SELECT w, freq,
         |         list_reduce(list_prepend('', ${syms("repr")}),
         |           (acc, s) -> CASE WHEN s = bb
         |                             AND right(acc, length(ba) + 1) = '$D' || ba
         |                       THEN acc || s ELSE acc || '$D' || s END) AS repr
         |  FROM $prev CROSS JOIN b$t
         |)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT w, count(*) AS freq,
       |         regexp_replace(w, '(.)', '$D\\1', 'g') AS repr
       |  FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '$BpePattern')) AS w
       |    FROM documents
       |  )
       |  GROUP BY w
       |),
       |$rounds""".stripMargin
  }

  private def bpeSymsSql(c: String) =
    s"list_filter(string_split($c, '$BpeDelim'), x -> x <> '')"

  val oracle: Map[String, String] = Map(
    "tx13_bpe_vocab" ->
      s"""WITH $bpeVocabSql
         |SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences FROM (
         |  SELECT freq, unnest(${bpeSymsSql("repr")}) AS token FROM w$BpeMerges
         |) GROUP BY token ORDER BY token""".stripMargin,

    // same trained word table (CTE chain shared verbatim with tx13),
    // applied to every doc through the word join
    "tx14_bpe_encode" ->
      s"""WITH $bpeVocabSql,
         |wt AS (
         |  SELECT w, CAST(len(${bpeSymsSql("repr")}) AS BIGINT) AS ntok
         |  FROM w$BpeMerges
         |),
         |dw AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$BpePattern')) AS w
         |  FROM documents
         |),
         |enc AS (
         |  SELECT dw.doc_id, count(*) AS n_words, sum(wt.ntok) AS n_tokens
         |  FROM dw JOIN wt USING (w) GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(e.n_words, 0) AS BIGINT) AS n_words,
         |       CAST(coalesce(e.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       CASE WHEN e.n_words > 0
         |            THEN round(CAST(e.n_tokens AS DOUBLE) / CAST(e.n_words AS DOUBLE), 6)
         |       END AS fertility
         |FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "tx01_token_stats" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS tokens FROM documents)
         |SELECT doc_id,
         |  CAST(len(tokens) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct,
         |  CASE WHEN len(tokens) = 0 THEN NULL ELSE
         |    round(CAST(list_reduce(list_prepend(0, list_transform(tokens, t -> length(t))), (a, b) -> a + b) AS DOUBLE)
         |          / CAST(len(tokens) AS DOUBLE), 6) END AS avg_token_len
         |FROM tok ORDER BY doc_id""".stripMargin,

    "tx02_quality" -> {
      val allStops = inList(LangStopwords.flatMap(_._2))
      s"""WITH tok AS (SELECT doc_id, text, $tokensSql AS tokens FROM documents),
         |c AS (
         |  SELECT doc_id, text, len(tokens) AS n,
         |         len(list_filter(tokens, t -> $allStops)) AS stop_cnt,
         |         len(list_filter(tokens, t -> length(t) <= 2)) AS short_cnt
         |  FROM tok
         |)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_actual,
         |  round(CAST(stop_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE), 6) AS stopword_ratio,
         |  round(CAST(short_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE), 6) AS short_ratio,
         |  round(1.0 - 0.5 * (CAST(stop_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE))
         |            - 0.5 * (CAST(short_cnt AS DOUBLE) / CAST(nullif(n, 0) AS DOUBLE)), 6) AS quality_score
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "tx03_langid" -> {
      val scores = LangStopwords.map { case (lang, words) =>
        s"len(list_filter(tokens, t -> ${inList(words)}))::BIGINT AS ${lang}_score"
      }.mkString(",\n         ")
      s"""WITH tok AS (SELECT doc_id, lang, $tokensSql AS tokens FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |         $scores
         |  FROM tok
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN en_score >= de_score AND en_score >= es_score AND en_score >= fr_score THEN 'en'
         |       WHEN de_score >= es_score AND de_score >= fr_score THEN 'de'
         |       WHEN es_score >= fr_score THEN 'es'
         |       ELSE 'fr' END AS predicted_lang,
         |  en_score, de_score, es_score, fr_score
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "tx07_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
         |tf AS (
         |  SELECT doc_id, unnest(tokens) AS term FROM tok
         |),
         |tfc AS (
         |  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2
         |),
         |dfc AS (
         |  SELECT term, count(*) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(tokens)) AS term FROM tok) t
         |  GROUP BY 1
         |),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, term, tf, df,
         |         round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) DESC,
         |                                     term ASC) AS rk
         |  FROM tfc JOIN dfc USING (term), n
         |)
         |SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, df, tfidf
         |FROM scored WHERE rk <= $TfidfTopK ORDER BY doc_id, rk""".stripMargin,

    "tx08_repetition" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM tok)
         |SELECT doc_id,
         |  CAST(len(sh) AS BIGINT) AS n_shingles,
         |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         |  CASE WHEN len(sh) = 0 THEN NULL ELSE
         |    round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
         |                / CAST(len(sh) AS DOUBLE), 6) END AS rep_ratio
         |FROM sh ORDER BY doc_id""".stripMargin,

    "tx09_entropy" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
         |c AS (
         |  SELECT doc_id, tokens, len(tokens) AS n,
         |         list_sort(list_distinct(tokens)) AS dt
         |  FROM tok
         |),
         |cc AS (
         |  SELECT doc_id, n, dt,
         |         list_transform(dt, t ->
         |           CAST(len(list_filter(tokens, u -> u = t)) AS DOUBLE)) AS cnts
         |  FROM c
         |)
         |SELECT doc_id,
         |  CAST(n AS BIGINT) AS n_tokens,
         |  CAST(len(dt) AS BIGINT) AS n_distinct,
         |  CASE WHEN n = 0 THEN NULL ELSE
         |    round(0.0 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(cnts, c ->
         |        (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)))),
         |      (a, b) -> a + b), 6) END AS entropy
         |FROM cc ORDER BY doc_id""".stripMargin,

    "tx04_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, $tokensSql AS tokens FROM documents)
         |SELECT doc_id,
         |  CAST(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |                 list_transform(tokens, t -> ${Portable.phashSql("t")} % 1000003)),
         |    (h, x) -> ((h * 31) + x) % 1000000007) AS BIGINT) AS fingerprint
         |FROM tok ORDER BY doc_id""".stripMargin,

    "tx06_bpe_tokens" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |         regexp_extract_all(lower(text), '$BpePattern') AS bpe,
         |         len($tokensSql) AS ws_n
         |  FROM documents
         |)
         |SELECT doc_id, CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
         |  CASE WHEN len(bpe) = 0 THEN NULL ELSE
         |    round(CAST(list_reduce(list_prepend(0, list_transform(bpe, t -> length(t))), (a, b) -> a + b) AS DOUBLE)
         |          / CAST(len(bpe) AS DOUBLE), 6) END AS avg_bpe_len,
         |  round(CAST(len(bpe) AS DOUBLE) / CAST(nullif(ws_n, 0) AS DOUBLE), 6) AS fertility
         |FROM b ORDER BY doc_id""".stripMargin,

    "tx10_ngram_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |bg AS (
         |  SELECT doc_id, $bigramsSql AS bigrams FROM tok
         |),
         |ng AS (
         |  SELECT doc_id, unnest(bigrams) AS ngram FROM bg
         |)
         |SELECT ngram, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM ng GROUP BY ngram
         |ORDER BY tf DESC, ngram ASC LIMIT $NgramTopK""".stripMargin,

    "tx11_chunk_windows" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |t AS (
         |  SELECT doc_id, tokens, CAST(len(tokens) AS BIGINT) AS n FROM tok
         |),
         |c AS (
         |  SELECT doc_id, tokens, n,
         |         unnest(CASE WHEN n > 0
         |           THEN generate_series(CAST(0 AS BIGINT), CAST(ceil(CAST(greatest(n - $ChunkWindow, 0) AS DOUBLE) / $ChunkStride) AS BIGINT))
         |           ELSE [] END) AS chunk_id
         |  FROM t
         |)
         |SELECT doc_id, chunk_id,
         |       chunk_id * $ChunkStride AS start_tok,
         |       least(CAST($ChunkWindow AS BIGINT), n - chunk_id * $ChunkStride) AS n_tok,
         |       substring(md5(array_to_string(
         |         tokens[CAST(chunk_id * $ChunkStride + 1 AS BIGINT) :
         |                CAST(chunk_id * $ChunkStride + least(CAST($ChunkWindow AS BIGINT), n - chunk_id * $ChunkStride) AS BIGINT)],
         |         ' ')), 1, 16) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "lm01_unigram_lm" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensSql) AS tok FROM documents
         |),
         |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
         |st AS (SELECT CAST(sum(c) AS DOUBLE) AS N, CAST(count(*) AS DOUBLE) AS V FROM cnt)
         |SELECT doc_id, count(*) AS n_tokens,
         |       round(CAST(sum(CAST(0.0 - ln((CAST(c AS DOUBLE) + 1.0) / (N + V)) AS DECIMAL(18,8))) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS avg_nll
         |FROM tok JOIN cnt USING (tok), st
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tx12_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |t AS (
         |  SELECT doc_id, unnest(tokens) AS token FROM tok WHERE len(tokens) > 0
         |),
         |v AS (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS n FROM t GROUP BY token
         |    ORDER BY n DESC, token ASC LIMIT $VocabTopK) x
         |)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
         |FROM t LEFT JOIN v ON t.token = v.token
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // dq08: the KL fold mirrored bucket for bucket — smoothing,
    // realized bucket count kk, 6-dp term rounding, decimal-exact
    // total (dq07's oracle discipline over the lexical axis)
    "dq08_vocab_drift" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($tokensSql) AS term FROM documents
         |),
         |t AS (SELECT doc_id, term, (doc_id % 4 = 0) AS is_new FROM tok),
         |vocab AS (
         |  SELECT term FROM (
         |    SELECT term, count(*) AS n FROM t WHERE NOT is_new
         |    GROUP BY term ORDER BY n DESC, term ASC LIMIT $VocabTopK) z
         |),
         |counts AS (
         |  SELECT CASE WHEN v.term IS NULL THEN '__oov__' ELSE t.term END AS bucket,
         |         CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS old_n,
         |         CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_n
         |  FROM t LEFT JOIN vocab v ON t.term = v.term
         |  GROUP BY 1
         |),
         |k AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS kk,
         |         CAST(sum(old_n) AS DOUBLE) AS ot,
         |         CAST(sum(new_n) AS DOUBLE) AS nt
         |  FROM counts
         |),
         |terms AS (
         |  SELECT bucket, old_n, new_n,
         |         round(((CAST(new_n AS DOUBLE) + 1.0) / (nt + kk))
         |               * ln(((CAST(new_n AS DOUBLE) + 1.0) / (nt + kk))
         |                    / ((CAST(old_n AS DOUBLE) + 1.0) / (ot + kk))), 6) AS kl_term
         |  FROM counts, k
         |)
         |SELECT bucket, old_n, new_n, kl_term,
         |       CAST(NULL AS DOUBLE) AS kl_total, CAST(NULL AS BOOLEAN) AS reindex
         |FROM terms
         |UNION ALL
         |SELECT '__total__', CAST(sum(old_n) AS BIGINT), CAST(sum(new_n) AS BIGINT),
         |       CAST(NULL AS DOUBLE),
         |       CAST(sum(CAST(kl_term AS DECIMAL(18,6))) AS DOUBLE),
         |       CAST(sum(CAST(kl_term AS DECIMAL(18,6))) AS DOUBLE) > $VocabDriftThreshold
         |FROM terms
         |ORDER BY bucket""".stripMargin,

    "tx15_bm25_topk" ->
      s"""WITH q AS (SELECT * FROM (VALUES $bm25Values) AS q(query_id, term)),
         |tok AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
         |dl AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM tok),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(tokens) AS term FROM tok) t
         |  JOIN (SELECT DISTINCT term FROM q) USING (term)
         |  GROUP BY 1, 2
         |),
         |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT q.query_id, tf.doc_id,
         |         round(
         |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |                    / (CAST(df AS DOUBLE) + 0.5))
         |           * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
         |           / (CAST(tf AS DOUBLE)
         |              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
         |                           * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))),
         |           6) AS score
         |  FROM tf JOIN dfc USING (term) JOIN q USING (term) JOIN dl USING (doc_id), st
         |),
         |agg AS (
         |  SELECT query_id, doc_id,
         |         CAST(sum(CAST(score AS DECIMAL(18,8))) AS DOUBLE) AS bm25,
         |         count(*) AS n_terms
         |  FROM scored GROUP BY 1, 2
         |)
         |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, bm25, n_terms FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY bm25 DESC, doc_id ASC) AS rk
         |  FROM agg) t
         |WHERE rk <= $Bm25TopK ORDER BY query_id, rk""".stripMargin
  )
}
