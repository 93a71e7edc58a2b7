package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** Text-analysis operators for a training-data pipeline: tokenization,
  * shingling (with a skew guard), quality scoring, language-ID heuristic,
  * document fingerprinting. All built from codegen'd built-ins; every
  * operator has a DuckDB-oracle twin generated from the same constants.
  *
  * Scale posture: each operator is a narrow projection or a single
  * partial-aggregated groupBy on doc_id — embarrassingly parallel over
  * documents; the only shuffle is the per-doc aggregate.
  */
object TextOps {

  /** Stopword list for quality scoring (shared Spark/oracle constant). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Language marker words for the n-gram-ish language-ID heuristic.
    * Deterministic scoring: count marker-token hits per language; the
    * language is the max score with alphabetical tie-break.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "scan", "merge"),
    "en" -> Seq("the", "a", "value"),
    "es" -> Seq("data", "row", "column"),
    "fr" -> Seq("query", "join", "filter"),
    "zh" -> Seq("spark", "stream", "batch"))

  def tokens(text: Column): Column = Portable.tokens(text)

  def nTokens(text: Column): Column = size(tokens(text)).cast("bigint")

  /** BPE-style pre-tokenizer: letter runs, single digits, single marks —
    * the GPT-2-style split whose match count upper-bounds BPE token count.
    * The alternation's character classes are disjoint, so Java regex
    * (Spark) and RE2 (DuckDB) produce identical token streams.
    */
  val BpePattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"

  def bpeCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpePattern), lit(0))).cast("bigint")

  def sqlBpeCount(e: String): String =
    s"""len(regexp_extract_all(lower($e), '[a-z]+|[0-9]|[^a-z0-9\\s]'))::BIGINT"""

  /** PII redaction patterns (emails, phone-number-shaped digit runs).
    * Anchored to character classes whose greedy leftmost semantics are
    * identical in Java regex (Spark) and RE2 (DuckDB).
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\s.-]{7,}[0-9]"

  /** Mask emails/phones and count what was masked — the standard
    * PII-scrub pass before a corpus ships to training. Pure per-row
    * expressions; the masked text is md5'd for compact verification.
    */
  def redact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("bigint").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("bigint").as("n_phones"),
      md5(regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>")).as("redacted_md5"))
      .orderBy(col("doc_id"))

  def sqlRedact: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(text, '$PhoneRe'))::BIGINT AS n_phones,
       |  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Top-K corpus n-grams by raw occurrence count (corpus analysis /
    * boilerplate discovery — the frequency table a pipeline inspects before
    * picking stop-shingles and dedup thresholds).
    */
  val TopNgramK = 20

  /** All word-ShingleN-gram occurrences (NOT per-doc distinct — frequency
    * analysis wants raw counts), partial-aggregated counts, then a global
    * top-K with a total (count desc, gram asc) order.
    *
    * Scale shape: count per gram is a map-side-combined hash aggregate, and
    * the final ORDER BY+LIMIT plans as TakeOrderedAndProject — each
    * partition ships only its local top-K to the driver, never the full
    * gram table.
    */
  def topNgrams(docs: DataFrame): DataFrame = {
    val n = Portable.ShingleN
    docs.select(Portable.tokens(col("text")).as("w"))
      .select(explode(
        when(size(col("w")) >= n,
          transform(sequence(lit(0), size(col("w")) - n),
            i => array_join(slice(col("w"), i + lit(1), lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("g"))
      .limit(TopNgramK)
  }

  def sqlTopNgrams: String = {
    val n = Portable.ShingleN
    val gram = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT ${Portable.sqlTokens("text")} AS w FROM documents),
       |grams AS (SELECT $gram AS g
       |  FROM toks, LATERAL unnest(range(1, len(w) - ${n - 2})) t(i))
       |SELECT g, count(*)::BIGINT AS n FROM grams GROUP BY g
       |ORDER BY n DESC, g LIMIT $TopNgramK""".stripMargin
  }

  /** Within-document n-gram repetition ratio (the Gopher/C4-style
    * repetition quality filter): 1 - distinct/total shingles. A pure
    * per-row expression — no shuffle, no state.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val n = Portable.ShingleN
    val w = col("w")
    val total = greatest(size(w) - (n - 1), lit(0)).cast("double")
    val dist = size(Dedup.shingleArray(w)).cast("double")
    docs.select(col("doc_id"), Portable.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        when(total > 0, round(lit(1.0) - dist / total, 4))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  def sqlRepetition: String = {
    val n = Portable.ShingleN
    val grams = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w FROM documents),
       |tot AS (SELECT doc_id, greatest(len(w) - ${n - 1}, 0) AS total FROM toks),
       |dis AS (SELECT doc_id, count(DISTINCT g) AS d
       |        FROM (SELECT doc_id, $grams AS g
       |              FROM toks, LATERAL unnest(range(1, len(w) - ${n - 2})) t(i))
       |        GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CASE WHEN t.total > 0 THEN round(1.0 - coalesce(dis.d, 0) * 1.0 / t.total, 4)
       |       ELSE 0.0 END AS rep_ratio
       |FROM tot t LEFT JOIN dis ON dis.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Count of tokens exactly in `words`. */
  private[operators] def tokenHits(text: Column, words: Seq[String]): Column = {
    val inSet = (t: Column) => words.map(w => t === lit(w)).reduce(_ || _)
    size(filter(tokens(text), inSet)).cast("bigint")
  }

  private[operators] def sqlTokenHits(textExpr: String, words: Seq[String]): String = {
    val ors = words.map(w => s"x = '$w'").mkString(" OR ")
    s"len(list_filter(${Portable.sqlTokens(textExpr)}, x -> $ors))::BIGINT"
  }

  /** Quality metrics per document (length/stopword-ratio family):
    * n_tokens, avg_token_len, stopword_ratio, and a blended score.
    */
  /** The blended t2 quality score as ONE stateless per-row Column — the
    * expression-layer unification seam: [[quality]] projects it in the
    * batch manifest, and the streaming curation gate
    * (graft.streaming.CurationStream) applies the IDENTICAL expression
    * per micro-batch row, so batch and stream can never drift.
    */
  def qualityScore(textCol: Column): Column = {
    val toks = tokens(textCol)
    val n = size(toks).cast("double")
    val stops = tokenHits(textCol, Stopwords).cast("double")
    when(n === 0, lit(0.0))
      .otherwise(round(least(n / lit(200.0), lit(1.0)) * 0.5 + (stops / n) * 0.5, 4))
  }

  def quality(df: DataFrame, textCol: Column): DataFrame = {
    val toks = tokens(textCol)
    val n = size(toks).cast("double")
    val alphaLen = length(regexp_replace(lower(textCol), "[^a-z]", "")).cast("double")
    val stops = tokenHits(textCol, Stopwords).cast("double")
    df.select(
      col("doc_id"),
      n.cast("bigint").as("n_tokens"),
      // zero-token docs: x/0 diverges between engines (Spark NULL, DuckDB
      // NaN/inf) — pin every ratio to 0.0 on both sides
      when(n === 0, lit(0.0)).otherwise(round(alphaLen / n, 4)).as("avg_token_len"),
      when(n === 0, lit(0.0)).otherwise(round(stops / n, 4)).as("stopword_ratio"),
      qualityScore(textCol).as("quality_score"))
  }

  /** The blended quality score as ONE SQL expression — the oracle twin of
    * [[qualityScore]], shared by every oracle that ranks or gates on it.
    */
  private[operators] def sqlQualityScoreExpr(textExpr: String): String = {
    val toks = Portable.sqlTokens(textExpr)
    val stops = sqlTokenHits(textExpr, Stopwords)
    s"CASE WHEN len($toks) = 0 THEN 0.0 ELSE round(least(len($toks) / 200.0, 1.0) * 0.5 + ($stops::DOUBLE / len($toks)) * 0.5, 4) END"
  }

  def sqlQuality: String = {
    val toks = Portable.sqlTokens("text")
    val stops = sqlTokenHits("text", Stopwords)
    s"""SELECT doc_id,
       |  len($toks)::BIGINT AS n_tokens,
       |  CASE WHEN len($toks) = 0 THEN 0.0 ELSE round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / len($toks), 4) END AS avg_token_len,
       |  CASE WHEN len($toks) = 0 THEN 0.0 ELSE round($stops::DOUBLE / len($toks), 4) END AS stopword_ratio,
       |  CASE WHEN len($toks) = 0 THEN 0.0 ELSE round(least(len($toks) / 200.0, 1.0) * 0.5 + ($stops::DOUBLE / len($toks)) * 0.5, 4) END AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Language ID: marker-hit scores with max-score / alphabetical tie-break,
    * expressed as the same comparison chain in both engines.
    */
  def langId(df: DataFrame, textCol: Column): DataFrame = {
    val scores = LangMarkers.map { case (lang, words) => lang -> tokenHits(textCol, words) }
    // lang i wins if its score >= every later language's score (earlier
    // languages already had their chance) — max with alphabetical tie-break.
    val decided = scores.zipWithIndex.init.foldRight(lit(scores.last._1)) {
      case (((lang, s), i), elseCol) =>
        val laterGE = scores.drop(i + 1).map { case (_, s2) => s >= s2 }.reduce(_ && _)
        when(laterGE, lit(lang)).otherwise(elseCol)
    }
    val scoreCols = scores.map { case (lang, s) => s.as(s"score_$lang") }
    df.select(Seq(col("doc_id"), decided.as("lang_pred")) ++ scoreCols: _*)
  }

  def sqlLangId: String = {
    val scoreSel = LangMarkers.map { case (lang, words) =>
      s"${sqlTokenHits("text", words)} AS score_$lang"
    }.mkString(",\n  ")
    val langs = LangMarkers.map(_._1)
    val cases = langs.zipWithIndex.init.map { case (lang, i) =>
      val laterGE = langs.drop(i + 1).map(l2 => s"score_$lang >= score_$l2").mkString(" AND ")
      s"WHEN $laterGE THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id,
       |  CASE $cases ELSE '${langs.last}' END AS lang_pred,
       |  score_${langs.mkString(", score_")}
       |FROM (SELECT doc_id, $scoreSel FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic content-hash dataset splitting (train/val/test) — the
    * standard reproducible-split technique for training corpora: the split
    * follows the document content, not row order or partitioning, so it is
    * stable across reshuffles, engines, and re-ingestion.
    */
  val SplitTrainPct = 80
  val SplitValPct = 10 // test gets the remainder

  def datasetSplit(df: DataFrame): DataFrame = {
    val bucket = Portable.hash32(lower(trim(col("text")))) % 100
    df.select(col("doc_id"),
      when(bucket < SplitTrainPct, "train")
        .when(bucket < SplitTrainPct + SplitValPct, "val")
        .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  def sqlDatasetSplit: String = {
    val h = Portable.sqlHash32("lower(trim(text))")
    s"""SELECT doc_id,
       |  CASE WHEN $h % 100 < $SplitTrainPct THEN 'train'
       |       WHEN $h % 100 < ${SplitTrainPct + SplitValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF top-k terms per document. Classic two-aggregate shape: term
    * frequency per (doc, term), document frequency per term, idf = ln(N/df)
    * (identical fp in both engines), rank per doc with term tie-break.
    * N arrives via a broadcast single-row cross join — no driver-side count.
    */
  def tfidfTopK(df: DataFrame, k: Int): DataFrame = {
    val toks = df.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val ndocs = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "t")
      .crossJoin(org.apache.spark.sql.functions.broadcast(ndocs))
      .withColumn("tfidf", col("tf") * log(col("n").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("t"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("t").as("term"),
        round(col("tfidf"), 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  def sqlTfidfTopK(k: Int): String =
    s"""WITH toks AS (SELECT doc_id, unnest(${Portable.sqlTokens("text")}) AS t FROM documents),
       |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |sc AS (SELECT tf.doc_id, tf.t, tf.tf * ln(n.n::DOUBLE / dfreq.df) AS tfidf
       |  FROM tf JOIN dfreq USING (t), n)
       |SELECT doc_id, rnk, t AS term, round(tfidf, 4) AS tfidf FROM (
       |  SELECT doc_id, t, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, t) AS rnk
       |  FROM sc) WHERE rnk <= $k
       |ORDER BY doc_id, rnk""".stripMargin

  // ------------------------------------------------------------- BM25

  /** Okapi BM25 constants — the standard Lucene/Robertson defaults. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  /** The benchmark query for t31/t32 — fixture-vocabulary terms. */
  val Bm25Query: Seq[String] = Seq("spark", "hash", "window")

  // derived constants embedded IDENTICALLY in both engines: computed once
  // here, interpolated into the oracle via Double.toString (round-trip
  // exact), so neither engine constant-folds a different rounding
  private val Bm25K1p1 = Bm25K1 + 1.0
  private val Bm25OneMinusB = 1.0 - Bm25B

  /** A BM25 inverted index, the four tables a retrieval serving layer
    * ships: term postings (t, doc_id, tf), per-doc lengths, per-term
    * document frequencies, and the single-row corpus totals.
    */
  final case class Bm25Index(postings: DataFrame, doclen: DataFrame,
                             stats: DataFrame, corpus: DataFrame)

  /** Build the inverted index in one corpus pass: tokenize, tf per
    * (term, doc) — map-side combined before the shuffle, the exact t5
    * shape — df from the postings, lengths and totals from the docs.
    * Nothing is collected; the postings table IS the index, partitioned
    * by its own term key (at 100 TB this is the table a search tier
    * bucket-joins queries against).
    */
  def buildBm25Index(docs: DataFrame): Bm25Index = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val postings = toks.groupBy(col("t"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val doclen = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("bigint").as("dl"))
    val stats = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val corpus = doclen.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    Bm25Index(postings, doclen, stats, corpus)
  }

  /** File width for the saved per-term stats table: vocabulary-sized
    * (one row per distinct term), so a handful of range partitions keeps
    * footers tight without scattering near-empty files the way the
    * session-wide shuffle-partition default would.
    */
  val Bm25StatsFiles = 4

  /** Persist the index under `dir` (postings/doclen scale with the
    * corpus — parallel write; stats with the vocabulary; corpus is one
    * row) and reload it — the t14/d11/s9/t21 train-once convention
    * applied to retrieval: index tonight, serve tomorrow.
    */
  def trainAndSaveBm25Index(docs: DataFrame, dir: String): Bm25Index = {
    val idx = buildBm25Index(docs)
    // postings land RANGE-PARTITIONED AND SORTED by their own term key:
    // every parquet footer then carries a tight [min_t, max_t], so a
    // serving read with a pushed-down term predicate opens only the
    // row groups holding its posting lists — the layout that makes
    // [[bm25ServeBatch]]'s scan an index seek, not a table scan
    idx.postings
      .repartitionByRange(col("t"))
      .sortWithinPartitions(col("t"), col("doc_id"))
      .write.option("maxRecordsPerFile", "5000000")
      .mode("overwrite").parquet(s"$dir/bm25_postings")
    graft.sources.ModelStore.saveLarge(idx.doclen, s"$dir/bm25_doclen")
    // stats gets the SAME t-sorted layout: every serving path that
    // prices or scores terms (bm25ScoreQt's df join, the t59/t60 budget
    // walk) pushes a term IN-list into this scan too, and with tight
    // [min_t, max_t] footers that read seeks its row groups instead of
    // scanning the vocabulary. Explicit small width: the table is
    // vocabulary-sized (one row per term), and the default
    // shuffle-partition count would scatter it into near-empty files
    idx.stats
      .repartitionByRange(Bm25StatsFiles, col("t"))
      .sortWithinPartitions(col("t"))
      .write.mode("overwrite").parquet(s"$dir/bm25_stats")
    graft.sources.ModelStore.save(idx.corpus, s"$dir/bm25_corpus")
    loadBm25Index(docs.sparkSession, dir)
  }

  def loadBm25Index(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Bm25Index =
    Bm25Index(
      graft.sources.ModelStore.load(spark, s"$dir/bm25_postings"),
      graft.sources.ModelStore.load(spark, s"$dir/bm25_doclen"),
      graft.sources.ModelStore.load(spark, s"$dir/bm25_stats"),
      graft.sources.ModelStore.load(spark, s"$dir/bm25_corpus"))

  /** BM25 top-k retrieval (t31): build in-lineage and score. */
  def bm25TopK(docs: DataFrame, query: Seq[String] = Bm25Query,
               k: Int = Bm25TopK): DataFrame =
    bm25FromIndex(buildBm25Index(docs), query, k)

  /** Score a query against a BM25 index: the postings scan is FILTERED
    * to the query terms (a pushed-down IN over the index's own key — the
    * serving read touches |q| posting lists, not the corpus), per-term
    * stats broadcast (|q| rows after their own filter), one doc-length
    * join, and the classic
    * idf(t) * tf (k1+1) / (tf + k1 (1 - b + b dl/avgdl)) contribution
    * with idf = ln(1 + (N - df + 0.5)/(df + 0.5)). Per-doc summation
    * follows the repo's order-free fp convention: each contribution is
    * rounded then summed as DECIMAL (exact in any order in both
    * engines), ranked on the exact decimal, rounded once for output.
    */
  def bm25FromIndex(idx: Bm25Index, query: Seq[String] = Bm25Query,
                    k: Int = Bm25TopK): DataFrame = {
    val qp = idx.postings.filter(col("t").isin(query: _*))
    val qs = idx.stats.filter(col("t").isin(query: _*))
    val avgdl = col("sum_dl").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf") +
      lit(Bm25K1) * (lit(Bm25OneMinusB) + lit(Bm25B) * (col("dl") / avgdl))
    val contrib = qp.join(broadcast(qs), "t")
      .join(idx.doclen, "doc_id")
      .crossJoin(broadcast(idx.corpus))
      .select(col("doc_id"),
        round(idf * (col("tf") * Bm25K1p1) / denom, 6)
          .cast("decimal(28,6)").as("w"))
    val scored = contrib.groupBy(col("doc_id")).agg(sum(col("w")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("s").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("rnk"), col("doc_id"),
        round(col("s").cast("double"), 4).as("score"))
      .orderBy(col("rnk"))
  }

  /** TOMBSTONED BM25 serving (t35, the s13 deletion leg applied to
    * retrieval): a delete-list anti-filters the per-doc index tables
    * (postings, lengths) and the derived statistics are re-derived FROM
    * THE PRUNED INDEX — df with one vocabulary-sized aggregation over
    * surviving postings, totals with a one-row aggregate over surviving
    * lengths — so deletion never re-tokenizes a document, and a deleted
    * doc can neither surface NOR keep inflating idf/avgdl. Serving must
    * hash-match a fresh build on the surviving corpus.
    */
  def deleteFromBm25Index(idx: Bm25Index, deleted: Column): Bm25Index = {
    val postings = idx.postings.filter(!deleted)
    val doclen = idx.doclen.filter(!deleted)
    val stats = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val corpus = doclen.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    Bm25Index(postings, doclen, stats, corpus)
  }

  /** [[deleteFromBm25Index]] against a TOMBSTONE TABLE (doc_id rows)
    * instead of a predicate — the form an online erasure pipeline
    * feeds: per-doc tables anti-join the list (AQE broadcasts it when
    * small), statistics re-derive from the survivors identically.
    */
  def deleteListFromBm25Index(idx: Bm25Index, deletedIds: DataFrame): Bm25Index = {
    val ids = deletedIds.select(col("doc_id")).distinct()
    val postings = idx.postings.join(ids, Seq("doc_id"), "left_anti")
    val doclen = idx.doclen.join(ids, Seq("doc_id"), "left_anti")
    val stats = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val corpus = doclen.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    Bm25Index(postings, doclen, stats, corpus)
  }

  /** Oracle for t31/t32/t34/t35: the identical tf/df/length/total
    * computation and the identical fp sequence per contribution
    * (constants interpolated from the same Scala doubles),
    * decimal-summed and ranked the same. `pred` restricts the corpus
    * (the t35 survivor set); the default is the full corpus.
    */
  def sqlBm25TopK: String = sqlBm25TopKOver("TRUE")

  def sqlBm25TopKOver(pred: String): String = {
    val q = Bm25Query.map(Portable.sqlLit).mkString(", ")
    s"""WITH toks AS (SELECT doc_id, unnest(${graft.functions.Portable.sqlTokens("text")}) AS t
       |  FROM documents WHERE $pred),
       |p AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks
       |  WHERE t IN ($q) GROUP BY 1, 2),
       |dl AS (SELECT doc_id, len(${graft.functions.Portable.sqlTokens("text")})::BIGINT AS dl
       |  FROM documents WHERE $pred),
       |s AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl
       |  FROM dl),
       |contrib AS (SELECT p.doc_id,
       |    round(ln(1.0 + (c.n - s.df + 0.5) / (s.df + 0.5))
       |        * (p.tf * $Bm25K1p1)
       |        / (p.tf + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * (dl.dl / (c.sum_dl::DOUBLE / c.n)))),
       |      6)::DECIMAL(28,6) AS w
       |  FROM p JOIN s USING (t) JOIN dl USING (doc_id), c),
       |sc AS (SELECT doc_id, sum(w) AS s FROM contrib GROUP BY 1)
       |SELECT rnk, doc_id, round(s::DOUBLE, 4) AS score FROM (
       |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
       |  FROM sc)
       |WHERE rnk <= $Bm25TopK ORDER BY rnk""".stripMargin
  }

  /** MULTI-QUERY BM25 SERVING (the kernel behind t32's online serving
    * through [[graft.streaming.CurationStream.serve]], mirroring s19's ANN
    * serving): each request row is
    * (query_id, terms ARRAY<STRING>); every query scores with EXACTLY
    * [[bm25FromIndex]]'s fp sequence per contribution (same constants,
    * same 6-digit round, same decimal sum), ranked per query — so a
    * one-row batch carrying [[Bm25Query]] reproduces t32 verbatim
    * (pinned in CurationStreamSpec).
    *
    * Scale shape: the batch's distinct terms (bounded by the request
    * batch) become a pushed-down IN predicate on the postings/stats
    * scans — with the saved index's t-sorted layout the read opens only
    * the row groups holding those posting lists — then broadcast-join
    * to reattach query ids; doc lengths join only touched docs; the
    * rank window partitions by query_id, so WindowGroupLimit truncates
    * map-side and no request can see another's rows.
    *
    * Latency shape (explicit, for the streaming caller): collecting the
    * term set is a DRIVER ROUND-TRIP per invocation — up to
    * [[ServeTermPushdownMax]]+1 strings — and the literal-IN predicate
    * it produces compiles a FRESH plan (and codegen) per micro-batch.
    * That is the deliberate trade: the per-batch driver hop and codegen
    * are milliseconds, and in exchange the postings scan opens only the
    * requested terms' row groups instead of probing every row group
    * through a join. A latency-critical server past ~100 batches/s would
    * pre-register the broadcast-join form (plan reuse, no collect) and
    * pay the full-scan probe instead.
    */
  /** Distinct-term cap for [[bm25ServeBatch]]'s literal-IN pushdown; a
    * batch past it serves via the broadcast-join path instead (a mega-IN
    * literal bloats codegen; the join stays posting-list-bounded).
    */
  val ServeTermPushdownMax = 1000

  /** The BM25 request-validity predicate and its rejects complement —
    * the positional family's malformed-request contract applied to the
    * (query_id, terms) shape: a null or empty term array cannot score
    * (the explode emits nothing), so the request is DROPPED and a
    * caller distinguishes it from a zero-match query through this
    * channel (online serving passes it as a side channel of
    * [[graft.streaming.CurationStream.serve]]).
    */
  private def bm25ValidPred: Column =
    col("terms").isNotNull && size(col("terms")) >= 1 &&
      forall(col("terms"), _.isNotNull)

  /** The query_ids [[bm25ServeBatch]] drops as malformed. */
  def bm25ServeRejects(queries: DataFrame): DataFrame =
    queries.filter(!bm25ValidPred).select(col("query_id"))
      .orderBy(col("query_id"))

  def bm25ServeBatch(queries: DataFrame, idx: Bm25Index,
                     k: Int = Bm25TopK): DataFrame =
    bm25ScoreQt(queries.filter(bm25ValidPred)
      .select(col("query_id"), explode(col("terms")).as("t")).distinct(),
      idx, k)

  /** The shared scoring core behind [[bm25ServeBatch]] and
    * [[bm25ServeBatchBudgeted]]: `qt` is the already-validated,
    * already-policy-filtered (query_id, t) set — everything from the
    * term-pushdown collect to the per-query rank is identical for both
    * entry points, so the budgeted path can never drift from the plain
    * one on the terms it keeps.
    */
  private def bm25ScoreQt(qt0: DataFrame, idx: Bm25Index, k: Int): DataFrame = {
    // the request-bounded (query_id, t) set is read twice — the pushdown
    // collect and the contrib broadcast — and for the budgeted entry its
    // lineage is the whole priced walk; eager checkpoint runs it once
    // (the ivfPqServeFromProbes probe rule on the text side)
    val qt = qt0.localCheckpoint(true)
    // the batch's term set collects to a LITERAL IN predicate — bounded
    // by the request batch, and the one form parquet pushes down: with
    // the index's t-sorted layout (trainAndSaveBm25Index) the postings
    // scan opens only the row groups holding these terms' posting lists
    // (a broadcast join probes every row group; a pushed filter skips
    // them) — plan-locked in PlanShapeSpec
    val terms = qt.select(col("t")).distinct()
    val termList = terms.limit(ServeTermPushdownMax + 1)
      .collect().map(_.getString(0))
    // a pathological batch (one request with a huge term list) must not
    // compile a mega-IN: past the cap, fall back to the broadcast join —
    // still never a shuffle of the postings on the term key
    val usePushdown = termList.length <= ServeTermPushdownMax
    def restrict(t: DataFrame): DataFrame =
      if (termList.isEmpty) t.filter(lit(false))
      else if (usePushdown) t.filter(col("t").isin(termList.toSeq: _*))
      else t.join(broadcast(terms), "t")
    val qp0 = restrict(idx.postings)
    val qs = restrict(idx.stats)
    val avgdl = col("sum_dl").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf") +
      lit(Bm25K1) * (lit(Bm25OneMinusB) + lit(Bm25B) * (col("dl") / avgdl))
    val contrib = qp0.join(broadcast(qt), "t")
      .join(broadcast(qs), "t")
      .join(idx.doclen, "doc_id")
      .crossJoin(broadcast(idx.corpus))
      .select(col("query_id"), col("doc_id"),
        round(idf * (col("tf") * Bm25K1p1) / denom, 6)
          .cast("decimal(28,6)").as("w"))
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("s").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        round(col("s").cast("double"), 4).as("score"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Per-request posting-volume budget for [[bm25ServeBatchBudgeted]]:
    * a request may drag at most `Bm25BudgetFactor` × corpus-size
    * posting rows through the serve plan (t55's cost model as an
    * enforced ceiling, in the BM25 index's unit — one posting row per
    * (term, doc), so a term costs its df).
    */
  val Bm25BudgetFactor = 1L

  /** The terms a budgeted serve KEEPS, per request: each request's
    * distinct terms are priced by df from the index's own stats table
    * (terms absent from the vocabulary cost 0) and kept in increasing
    * (df, t) order while the running total stays within
    * [[Bm25BudgetFactor]] × N — the classic IR practice (rare terms
    * carry the information; stopwords carry the cost) made a
    * deterministic, replayable rule. The rarest term always survives
    * (its df is at most N), so no request is starved and no new reject
    * class exists; the malformed-request contract is unchanged
    * ([[bm25ServeRejects]]).
    *
    * Scale shape: stats restricted by the same pushdown/broadcast rule
    * as serving, a batch-sized broadcast join, a REQUEST-partitioned
    * cumulative window (never corpus-scaled), and a one-row corpus
    * broadcast. The payoff is downstream: dropped hot terms never
    * reach the postings IN-list, so their row groups are never opened.
    */
  def bm25BudgetTerms(queries: DataFrame, idx: Bm25Index): DataFrame =
    bm25RequestCosts(queries, idx).filter(col("kept"))
      .select(col("query_id"), col("t"))

  /** THE PER-REQUEST COST AUDIT (t60) — the budget walk with its
    * working shown: one row per (request, distinct term) carrying the
    * term's posting-row price (`df_cost`), the request's running total
    * in keep order (`cum`), and the keep/drop verdict — the table an
    * operator reads to see WHY a request was degraded, completing the
    * pricing story (t55 per-term price, t56 the stop list, t59 the
    * enforcement, this the per-request explanation).
    * [[bm25BudgetTerms]] is exactly its kept slice, so the audit can
    * never disagree with what serving actually did.
    */
  def bm25RequestCosts(queries: DataFrame, idx: Bm25Index): DataFrame = {
    val qtAll = queries.filter(bm25ValidPred)
      .select(col("query_id"), explode(col("terms")).as("t")).distinct()
    val terms = qtAll.select(col("t")).distinct()
    val termList = terms.limit(ServeTermPushdownMax + 1)
      .collect().map(_.getString(0))
    val qs =
      if (termList.isEmpty) idx.stats.filter(lit(false))
      else if (termList.length <= ServeTermPushdownMax)
        idx.stats.filter(col("t").isin(termList.toSeq: _*))
      else idx.stats.join(broadcast(terms), "t")
    val costed = qtAll.join(broadcast(qs), Seq("t"), "left")
      .select(col("query_id"), col("t"),
        coalesce(col("df"), lit(0L)).as("df_cost"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("df_cost"), col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    costed.withColumn("cum", sum(col("df_cost")).over(w))
      .crossJoin(broadcast(idx.corpus.select(col("n"))))
      .select(col("query_id"), col("t"), col("df_cost"), col("cum"),
        (col("cum") <= col("n") * Bm25BudgetFactor).as("kept"))
      .orderBy(col("query_id"), col("cum"), col("t"))
  }

  /** Oracle for [[bm25RequestCosts]] (t60): the identical VALUES batch,
    * df pricing and cumulative walk, every column integer/boolean so
    * the comparison is hash-exact.
    */
  def sqlBm25RequestCosts(requests: Seq[(Long, Seq[String])]): String = {
    val vals = requests.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid::BIGINT, ${Portable.sqlLit(t)})")
    }.mkString(", ")
    s"""WITH req AS (SELECT DISTINCT query_id, t
       |  FROM (VALUES $vals) v(query_id, t)),
       |toks AS (SELECT doc_id, unnest(${Portable.sqlTokens("text")}) AS t
       |  FROM documents),
       |s AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS df FROM toks
       |  WHERE t IN (SELECT t FROM req) GROUP BY t),
       |nd AS (SELECT count(*)::BIGINT AS n FROM documents)
       |SELECT query_id, t, df_cost, cum,
       |  cum <= n * $Bm25BudgetFactor AS kept
       |FROM (SELECT r.query_id, r.t, coalesce(s.df, 0)::BIGINT AS df_cost,
       |    (sum(coalesce(s.df, 0)::BIGINT) OVER (PARTITION BY r.query_id
       |      ORDER BY coalesce(s.df, 0), r.t ROWS UNBOUNDED PRECEDING))::BIGINT AS cum
       |  FROM req r LEFT JOIN s ON s.t = r.t), nd
       |ORDER BY query_id, cum, t""".stripMargin
  }

  /** The request/stats/cost-walk CTE block SHARED by the BM25 budget
    * oracles whose walk is identical (t59's serve and t62's recall
    * report) — one authoritative SQL rendering of the df-priced
    * rarest-first rule (the sqlAnnBudgetWalkCtes convention on the text
    * side): emits `req` (the VALUES batch), `toks`/`p`/`s`/`dl`/`c`
    * (the t31 index replay), `cost`/`walkv`/`verd` (the priced walk
    * with verdicts) and `kept` (the surviving term set). t60's audit
    * oracle keeps its own stats derivation (count-DISTINCT from toks —
    * documented there) and is gated against the same fixtures.
    */
  private def sqlBm25BudgetWalkCtes(requests: Seq[(Long, Seq[String])]): String = {
    val vals = requests.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid::BIGINT, ${Portable.sqlLit(t)})")
    }.mkString(", ")
    s"""req AS (SELECT DISTINCT query_id, t
       |  FROM (VALUES $vals) v(query_id, t)),
       |toks AS (SELECT doc_id, unnest(${Portable.sqlTokens("text")}) AS t
       |  FROM documents),
       |p AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf FROM toks
       |  WHERE t IN (SELECT t FROM req) GROUP BY 1, 2),
       |s AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
       |dl AS (SELECT doc_id, len(${Portable.sqlTokens("text")})::BIGINT AS dl
       |  FROM documents),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |cost AS (SELECT r.query_id, r.t, coalesce(s.df, 0)::BIGINT AS cdf
       |  FROM req r LEFT JOIN s ON s.t = r.t),
       |walkv AS (SELECT query_id, t, cdf,
       |    (sum(cdf) OVER (PARTITION BY query_id
       |      ORDER BY cdf, t ROWS UNBOUNDED PRECEDING))::BIGINT AS cum FROM cost),
       |verd AS (SELECT query_id, t, cdf,
       |    cum <= c.n * $Bm25BudgetFactor AS kept FROM walkv, c),
       |kept AS (SELECT query_id, t FROM verd WHERE kept)""".stripMargin
  }

  /** SERVE-TIME COST BUDGET ENFORCED (t59) — the t55/t56 pricing story
    * closed at the serving layer: [[bm25ServeBatch]] with each request
    * first stripped to its budgeted term set ([[bm25BudgetTerms]]),
    * then scored through the IDENTICAL shared core. A stopword-heavy
    * request degrades to its informative terms instead of dragging the
    * hot posting lists through the plan — and because the postings
    * IN-pushdown is collected AFTER the strip, the dropped terms' row
    * groups are never even opened (the t32 index-seek layout does the
    * rest). Result shape and ranking semantics are bm25ServeBatch's,
    * over the surviving terms.
    *
    * Scope, deliberately: the budget applies to BAG-OF-WORDS scoring
    * only, where dropping a term degrades the ranking gracefully. The
    * positional family (phrase/span-near/cooc) is STRUCTURAL — removing
    * a term changes what the query MEANS, not just how well it is
    * answered — so those servers keep their full term sets and hot-term
    * protection lives upstream (strip against [[servingStopCandidates]]
    * before the request reaches the index, the t56 list's purpose).
    */
  def bm25ServeBatchBudgeted(queries: DataFrame, idx: Bm25Index,
                             k: Int = Bm25TopK): DataFrame =
    bm25ScoreQt(bm25BudgetTerms(queries, idx), idx, k)

  /** Oracle for [[bm25ServeBatchBudgeted]] (t59): the request batch as
    * a VALUES table, the full t31 scoring chain, and the SAME budget
    * walk — df-priced terms, per-request cumulative keep under
    * [[Bm25BudgetFactor]] × N — replayed from the base documents table.
    */
  def sqlBm25ServeBudgeted(requests: Seq[(Long, Seq[String])]): String =
    s"""WITH ${sqlBm25BudgetWalkCtes(requests)},
       |contrib AS (SELECT kept.query_id, p.doc_id,
       |    round(ln(1.0 + (c.n - s.df + 0.5) / (s.df + 0.5))
       |        * (p.tf * $Bm25K1p1)
       |        / (p.tf + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * (dl.dl / (c.sum_dl::DOUBLE / c.n)))),
       |      6)::DECIMAL(28,6) AS w
       |  FROM kept JOIN p ON p.t = kept.t JOIN s ON s.t = kept.t
       |  JOIN dl ON dl.doc_id = p.doc_id, c),
       |sc AS (SELECT query_id, doc_id, sum(w) AS s FROM contrib GROUP BY 1, 2)
       |SELECT query_id, rnk, doc_id, round(s::DOUBLE, 4) AS score FROM (
       |  SELECT query_id, doc_id, s, row_number() OVER (PARTITION BY query_id
       |    ORDER BY s DESC, doc_id) AS rnk FROM sc)
       |WHERE rnk <= $Bm25TopK ORDER BY query_id, rnk""".stripMargin


  /** BUDGET RECALL HONESTY REPORT for BM25 (t62) — the s23/s10 pattern
    * on the text side, completing the quartet on BOTH index families
    * (price t55 → enforce t59 → audit t60 → measure HERE): per request,
    * how many terms the budget kept/dropped, the posting volume each
    * side represents (kept_volume is what the budgeted serve actually
    * seeks, priced_volume what the plain serve would have), and
    * `recall_vs_plain` = |budgeted top-k ∩ plain top-k| / k against the
    * un-budgeted serve as ground truth. A request whose terms all fit
    * MUST report 1.0 (the shared-core guarantee made visible,
    * spec-pinned); a degraded request reports exactly what dropping its
    * hot terms cost. Denominator is the literal k (the s10 convention —
    * every fixture request matches ≥ k docs; the oracle mirrors it).
    *
    * Scale shape: two term-pushdown seeks over the same saved index
    * plus the request-bounded t60 walk — production runs it over a
    * SAMPLED request set, the s10 rule.
    */
  def bm25BudgetRecall(queries: DataFrame, idx: Bm25Index,
                       k: Int = Bm25TopK): DataFrame = {
    // ONE audit walk feeds all three consumers (the annBudgetRecall
    // sharing rule on the text side): the plain serve's term set is the
    // walk's full (query_id, t) slice — identical to bm25ServeBatch's
    // validated explode by construction — the budgeted serve's its kept
    // slice, and the volume sums aggregate the same rows; the
    // uncheckpointed form ran the stats seek + walk three times.
    val costsAll = bm25RequestCosts(queries, idx).localCheckpoint(true)
    // the two serve constructions each run a term checkpoint + pushdown
    // collect — independent given the walk, so they overlap (Par.run)
    val Seq(plain, bud) = graft.functions.Par.run(
      () => bm25ScoreQt(costsAll.select(col("query_id"), col("t")), idx, k),
      () => bm25ScoreQt(
        costsAll.filter(col("kept")).select(col("query_id"), col("t")), idx, k))
    val hits = bud.select(col("query_id"), col("doc_id"))
      .join(plain.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    val costs = costsAll
      .groupBy(col("query_id")).agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_terms"),
        sum(when(col("kept"), lit(0L)).otherwise(1L)).as("dropped_terms"),
        sum(when(col("kept"), col("df_cost")).otherwise(0L)).as("kept_volume"),
        sum(col("df_cost")).as("priced_volume"))
    costs.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("kept_terms"), col("dropped_terms"),
        col("kept_volume"), col("priced_volume"),
        (round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 4) + 0.0)
          .as("recall_vs_plain"))
      .orderBy(col("query_id"))
  }

  /** Oracle for [[bm25BudgetRecall]] (t62): one tokenize/stats replay
    * shared by both serve chains (the budgeted chain is the t59 oracle
    * verbatim, the plain chain the same scoring over ALL request
    * terms), joined per request with the t60 walk's volume sums and the
    * identical round(·, 4) + 0.0 recall arithmetic.
    */
  def sqlBm25BudgetRecall(requests: Seq[(Long, Seq[String])]): String = {
    // one serve tail (score -> rank -> top-k) parameterized by its
    // terms CTE and a namespace suffix, so the two chains cannot collide
    def scoreTail(sfx: String, termsCte: String): String =
      s"""contrib$sfx AS (SELECT kt.query_id, p.doc_id,
         |    round(ln(1.0 + (c.n - s.df + 0.5) / (s.df + 0.5))
         |        * (p.tf * $Bm25K1p1)
         |        / (p.tf + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * (dl.dl / (c.sum_dl::DOUBLE / c.n)))),
         |      6)::DECIMAL(28,6) AS w
         |  FROM $termsCte kt JOIN p ON p.t = kt.t JOIN s ON s.t = kt.t
         |  JOIN dl ON dl.doc_id = p.doc_id, c),
         |sc$sfx AS (SELECT query_id, doc_id, sum(w) AS sw FROM contrib$sfx
         |  GROUP BY 1, 2),
         |topk$sfx AS (SELECT query_id, doc_id FROM (
         |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sw DESC, doc_id) AS rnk FROM sc$sfx)
         |  WHERE rnk <= $Bm25TopK)""".stripMargin
    s"""WITH ${sqlBm25BudgetWalkCtes(requests)},
       |${scoreTail("b", "kept")},
       |${scoreTail("p", "req")},
       |costs AS (SELECT query_id,
       |    sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS kept_terms,
       |    sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS dropped_terms,
       |    sum(CASE WHEN kept THEN cdf ELSE 0 END)::BIGINT AS kept_volume,
       |    sum(cdf)::BIGINT AS priced_volume
       |  FROM verd GROUP BY 1),
       |hits AS (SELECT b.query_id, count(*)::BIGINT AS h
       |  FROM topkb b JOIN topkp p2
       |    ON p2.query_id = b.query_id AND p2.doc_id = b.doc_id
       |  GROUP BY 1)
       |SELECT cs.query_id, cs.kept_terms, cs.dropped_terms, cs.kept_volume,
       |  cs.priced_volume,
       |  round(coalesce(h.h, 0) / ${Bm25TopK}.0, 4) + 0.0 AS recall_vs_plain
       |FROM costs cs LEFT JOIN hits h ON h.query_id = cs.query_id
       |ORDER BY cs.query_id""".stripMargin
  }

  /** INCREMENTAL BM25 index merge (t34) — today's shard enters the saved
    * index with NO recount of the old corpus: postings and doc lengths
    * are per-doc rows (disjoint doc sets — pure union), term dfs are
    * ADDITIVE on the term key (one vocabulary-sized outer-join
    * aggregation, the t24 LM-merge rule), and the one-row totals add.
    * Serving from the merge must hash-match the full-corpus build — the
    * count-additivity proof that a 100 TB search tier refreshes its
    * index by shard, never by rescan.
    */
  def mergeBm25Indexes(old: Bm25Index, shard: Bm25Index): Bm25Index = {
    val postings = old.postings.unionByName(shard.postings)
    val doclen = old.doclen.unionByName(shard.doclen)
    val stats = old.stats.unionByName(shard.stats)
      .groupBy(col("t")).agg(sum(col("df")).as("df"))
    val corpus = old.corpus.unionByName(shard.corpus)
      .agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sum_dl"))
    Bm25Index(postings, doclen, stats, corpus)
  }

  /** The benchmark phrase for t47 — fixture-vocabulary adjacent tokens. */
  val PhraseQuery: Seq[String] = Seq("window", "join")

  /** PHRASE SEARCH (t47) — the positional-index query class BM25 cannot
    * express: documents containing the EXACT consecutive token sequence,
    * with the match count (Lucene's PhraseQuery with slop 0). The trick
    * that makes it a relational plan instead of a per-doc scan: each
    * phrase term's positional postings are shifted LEFT by the term's
    * offset in the phrase, so an exact adjacency becomes EQUALITY of the
    * aligned start positions — and the n-way intersection is a chain of
    * equi-joins on (doc_id, aligned_start). Overlapping matches count
    * individually ("a a a" matches "a a" twice); the single-term phrase
    * degenerates to a posting count.
    *
    * Scale shape: ONE corpus pass builds the positional postings for the
    * PHRASE'S OWN terms only (the filter is a pushed-down IN at the
    * scan when served from a saved positional index; in-lineage it cuts
    * the explode's output to the phrase terms' occurrences), then the
    * filtered postings are localCheckpointed ONCE and every leg derives
    * from them — the t37 single-scan contract (without it, AQE rebuilds
    * the corpus explode per leg). Joins are (doc, position)-keyed —
    * posting-list sized, never corpus-to-corpus; no arrays ride the
    * shuffle, 16 bytes a row.
    */
  def phraseSearch(docs: DataFrame,
                   phrase: Seq[String] = PhraseQuery): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val pos = buildPositionalIndex(docs).postings
      .filter(col("t").isin(phrase.distinct: _*))
      .localCheckpoint(true)
    phraseFromIndex(PositionalIndex(pos), phrase)
  }

  // ---------------------------------------- positional index (t49–t52)

  /** A positional index — the SAVED artifact behind phrase (t47) and
    * proximity (t48) search, closing the one asymmetry the retrieval
    * family had: BM25 and ANN both ship build → save → merge → delete →
    * compact → serve lifecycles, while positional search re-derived its
    * postings from the corpus on every query. One table: (t, doc_id, p)
    * — a row per token OCCURRENCE (BM25's postings collapse to tf; this
    * keeps every position, the Lucene `.pos` file as a parquet table).
    *
    * The saved layout is the t32/s18 serving contract verbatim:
    * range-partitioned and sorted by the term key, so every parquet
    * footer carries a tight [min_t, max_t] and a phrase query's
    * pushed-down term predicates open only the row groups holding its
    * terms' occurrence lists — an index seek, not a corpus scan.
    */
  final case class PositionalIndex(postings: DataFrame)

  /** One corpus pass: tokenize + posexplode. Nothing is collected; the
    * occurrence table IS the index.
    */
  def buildPositionalIndex(docs: DataFrame): PositionalIndex =
    PositionalIndex(docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "t")))
      .select(col("t"), col("doc_id"), col("p")))

  /** The physical serving contract, shared by save and compact: term
    * ranges tight and non-overlapping per file (trainAndSaveBm25Index's
    * layout, applied to occurrences).
    */
  private def savePositionalLayout(postings: DataFrame, dir: String): Unit =
    postings
      .repartitionByRange(col("t"))
      .sortWithinPartitions(col("t"), col("doc_id"), col("p"))
      .write.option("maxRecordsPerFile", "5000000")
      .mode("overwrite").parquet(s"$dir/pos_postings")

  /** Index tonight, serve tomorrow (the t14/t32/s9 train-once rule). */
  def trainAndSavePositionalIndex(docs: DataFrame, dir: String): PositionalIndex = {
    savePositionalLayout(buildPositionalIndex(docs).postings, dir)
    loadPositionalIndex(docs.sparkSession, dir)
  }

  def loadPositionalIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String): PositionalIndex =
    PositionalIndex(graft.sources.ModelStore.load(spark, s"$dir/pos_postings"))

  /** Incremental refresh (the t34 rule): occurrences are per-doc rows on
    * disjoint doc sets — a pure union, no recount, no rescan of the old
    * corpus. Layout-fragmenting like every merge; compaction heals it.
    */
  def mergePositionalIndexes(old: PositionalIndex,
                             shard: PositionalIndex): PositionalIndex =
    PositionalIndex(old.postings.unionByName(shard.postings))

  /** The t46 nightly step for the positional artifact: rewrite the
    * merged occurrences through the identical physical contract as a
    * fresh save — pure data movement, no re-tokenization; serving from
    * the compacted index must hash-match the fresh full-corpus build.
    */
  def compactAndSavePositionalIndex(idx: PositionalIndex,
                                    dir: String): PositionalIndex = {
    // never in place: overwrite deletes `dir` before the lazy read runs
    graft.sources.ModelStore.requireNotInPlace(dir, idx.postings)
    savePositionalLayout(idx.postings, dir)
    loadPositionalIndex(idx.postings.sparkSession, dir)
  }

  /** Tombstoned serving (the t35/s13 rule): occurrences are per-doc rows
    * — anti-filter; there are no derived statistics to re-derive, so a
    * deleted doc simply can never match a phrase again.
    */
  def deleteFromPositionalIndex(idx: PositionalIndex,
                                deleted: Column): PositionalIndex =
    PositionalIndex(idx.postings.filter(!deleted))

  /** [[deleteFromPositionalIndex]] against a tombstone TABLE (doc_id
    * rows) — the online erasure form (AQE broadcasts a small list).
    */
  def deleteListFromPositionalIndex(idx: PositionalIndex,
                                    deletedIds: DataFrame): PositionalIndex =
    PositionalIndex(idx.postings.join(
      deletedIds.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"))

  /** Phrase search SERVED from a positional index (t49): identical
    * aligned-position equi-join chain as [[phraseSearch]], but each
    * leg's term filter is a PUSHED-DOWN predicate on the saved
    * occurrence table — with the t-sorted layout the scan opens only
    * the phrase terms' row groups (no explode, no corpus pass, no
    * checkpoint needed: each leg is already an index seek).
    */
  def phraseFromIndex(idx: PositionalIndex,
                      phrase: Seq[String] = PhraseQuery): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val legs = phrase.zipWithIndex.map { case (term, i) =>
      idx.postings.filter(col("t") === term)
        .select(col("doc_id"), (col("p") - i).as("p0"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  /** MULTI-QUERY PHRASE SERVING (the [[bm25ServeBatch]] convention for
    * the positional index): each request row is (query_id, phrase
    * ARRAY&lt;STRING&gt;), and every query's match counts equal
    * [[phraseFromIndex]]'s — so a one-row batch carrying [[PhraseQuery]]
    * reproduces t49 verbatim (unit-pinned).
    *
    * [[phraseFromIndex]]'s join CHAIN has one leg per phrase term — a
    * per-query plan shape, which a batch of mixed-length phrases cannot
    * share. The batch form re-expresses adjacency as OFFSET COVERAGE in
    * one fixed-shape plan: explode each phrase to (offset, term) rows,
    * join the postings once on the term key, align p0 = p − offset, and
    * a start position is a match iff its (query, doc, p0) group covers
    * ALL n offsets — countDistinct(offset) = n (duplicate phrase terms
    * are exactly the multiple (offset, p) rows the count needs).
    *
    * Scale shape: the batch's distinct terms push down as a literal IN
    * on the occurrence scan (row-group seek under the t-sorted layout;
    * [[ServeTermPushdownMax]] caps the literal, broadcast-join fallback
    * past it — the bm25ServeBatch trade, same per-batch driver hop),
    * the request set broadcasts, and the coverage count shuffles
    * postings-sized (query, doc, p0) rows, never the corpus.
    */
  def phraseServeBatch(queries: DataFrame, idx: PositionalIndex): DataFrame = {
    // a malformed request (null or empty phrase — the single-query form
    // throws require(phrase.nonEmpty)) is DROPPED, not allowed to kill
    // the serving batch; [[phraseServeRejects]] surfaces the dropped
    // query_ids so a caller can tell "no matches" from "bad request"
    val valid = queries.filter(phraseValidPred)
    val qt = valid
      .select(col("query_id"), size(col("phrase")).as("n"),
        posexplode(col("phrase")).as(Seq("off", "t")))
    val terms = qt.select(col("t")).distinct()
    val termList = terms.limit(ServeTermPushdownMax + 1)
      .collect().map(_.getString(0))
    val restricted =
      if (termList.isEmpty) idx.postings.filter(lit(false))
      else if (termList.length <= ServeTermPushdownMax)
        idx.postings.filter(col("t").isin(termList.toSeq: _*))
      else idx.postings.join(broadcast(terms), "t")
    restricted.join(broadcast(qt), "t")
      .select(col("query_id"), col("n"), col("doc_id"),
        (col("p") - col("off")).as("p0"), col("off"))
      .groupBy(col("query_id"), col("n"), col("doc_id"), col("p0"))
      .agg(countDistinct(col("off")).as("k"))
      .filter(col("k") === col("n"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** MULTI-QUERY PROXIMITY SERVING ([[phraseServeBatch]]'s sibling):
    * each request row is (query_id, a, b, slop), answered with exactly
    * [[proximityFromIndex]]'s semantics — the banded range join runs
    * with query_id riding the equi-key, so requests can't see each
    * other's pairs and one fixed-shape plan serves the whole batch.
    * The a-side explodes to buckets with the REQUEST'S OWN slop (the
    * per-row `p div slop` is computed after the term join attaches it),
    * so mixed-slop batches serve together. One-row-batch == t52 and
    * mixed batches == per-query calls are unit-pinned.
    *
    * Scale shape: the batch's distinct terms push down as the literal
    * IN (same cap + broadcast fallback as [[phraseServeBatch]]), the
    * request rows broadcast onto the postings, and the pair join keys
    * on (query, doc, bucket) — postings-sized, term-spam-safe by the
    * same banding argument as the single-query form.
    */
  def proximityServeBatch(queries: DataFrame,
                          idx: PositionalIndex): DataFrame = {
    // a malformed request (null terms, or slop < 1 — which would divide
    // by zero inside the shared plan) is DROPPED, not allowed to kill
    // the serving batch; [[proximityServeRejects]] surfaces the dropped
    // query_ids so a caller can tell "no matches" from "bad request"
    val valid = queries.filter(proximityValidPred)
    val qa = valid.select(col("query_id"), col("a").as("t"), col("slop"))
    val qb = valid.select(col("query_id"), col("b").as("t"), col("slop"))
    val terms = qa.select(col("t")).unionByName(qb.select(col("t"))).distinct()
    val termList = terms.limit(ServeTermPushdownMax + 1)
      .collect().map(_.getString(0))
    val restricted =
      if (termList.isEmpty) idx.postings.filter(lit(false))
      else if (termList.length <= ServeTermPushdownMax)
        idx.postings.filter(col("t").isin(termList.toSeq: _*))
      else idx.postings.join(broadcast(terms), "t")
    val la = restricted.join(broadcast(qa), "t")
      .select(col("query_id"), col("doc_id"), col("p").as("pa"), col("slop"),
        explode(array(expr("p div slop"), expr("p div slop") + 1)).as("bk"))
    val lb = restricted.join(broadcast(qb), "t")
      .select(col("query_id"), col("doc_id"), col("p").as("pb"),
        expr("p div slop").as("bk"))
    la.join(lb, Seq("query_id", "doc_id", "bk"))
      .filter(col("pb") - col("pa") > 0 && col("pb") - col("pa") <= col("slop"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** The serve-batch validity contracts — each batch server filters on
    * its predicate and the matching `*ServeRejects` returns the exact
    * complement, so a dropped request is always detectable. The guards
    * are ordered so the predicate is never three-valued-NULL (isNotNull
    * first), keeping serve + rejects a true partition of the batch.
    */
  // each array-shaped predicate also rejects a NULL ELEMENT inside the
  // array: a null term never equi-joins a posting, so without the check
  // the request would silently serve zero rows yet be absent from
  // *ServeRejects — exactly the "bad request indistinguishable from
  // zero matches" state the rejects channel exists to eliminate. The
  // forall lambda is isNotNull, which is two-valued per element, so the
  // guard itself can never go three-valued-NULL.
  private def phraseValidPred: Column =
    col("phrase").isNotNull && size(col("phrase")) >= 1 &&
      forall(col("phrase"), _.isNotNull)
  private def proximityValidPred: Column =
    col("a").isNotNull && col("b").isNotNull &&
      col("slop").isNotNull && col("slop") >= 1
  private def spanNearValidPred: Column =
    col("terms").isNotNull && size(col("terms")) >= 2 &&
      forall(col("terms"), _.isNotNull) &&
      col("gap").isNotNull && col("gap") >= 1

  /** The query_ids [[phraseServeBatch]] DROPS as malformed (null or
    * empty phrase) — the detection channel the batch contract needs:
    * without it a rejected request is indistinguishable from a query
    * with zero matching documents. Online serving surfaces it per
    * micro-batch as a side channel of
    * [[graft.streaming.CurationStream.serve]].
    */
  def phraseServeRejects(queries: DataFrame): DataFrame =
    queries.filter(!phraseValidPred).select(col("query_id"))
      .orderBy(col("query_id"))

  /** [[phraseServeRejects]] for [[proximityServeBatch]] (null term or
    * null/sub-1 slop).
    */
  def proximityServeRejects(queries: DataFrame): DataFrame =
    queries.filter(!proximityValidPred).select(col("query_id"))
      .orderBy(col("query_id"))

  /** [[phraseServeRejects]] for [[spanNearServeBatch]] (null or sub-2
    * term chain, null/sub-1 gap).
    */
  def spanNearServeRejects(queries: DataFrame): DataFrame =
    queries.filter(!spanNearValidPred).select(col("query_id"))
      .orderBy(col("query_id"))

  /** Proximity search served from the index (t52) — [[proximitySearch]]'s
    * banded range join over two pushed-down occurrence scans.
    */
  def proximityFromIndex(idx: PositionalIndex, a: String, b: String,
                         slop: Int = ProximitySlop): DataFrame = {
    require(slop >= 1, "slop must be at least 1")
    val la = idx.postings.filter(col("t") === a)
      .select(col("doc_id"), col("p").as("pa"),
        explode(array(expr(s"p div $slop"), expr(s"p div $slop") + 1)).as("bk"))
    val lb = idx.postings.filter(col("t") === b)
      .select(col("doc_id"), col("p").as("pb"), expr(s"p div $slop").as("bk"))
    la.join(lb, Seq("doc_id", "bk"))
      .filter(col("pb") - col("pa") > 0 && col("pb") - col("pa") <= slop)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("doc_id"))
  }

  /** [[phraseSearch]]'s PER-ROW form — the phrase match count as a pure
    * array expression over one document's own tokens (a window fold, no
    * explode, no join, no state): the form a STREAMING GATE applies to
    * each arriving document (the gopher-battery convention — stream-
    * ready as-is), and the right plan whenever the phrase list rides
    * WITH the row instead of indexing the corpus. Equality with the
    * join form is unit-pinned; the join form remains the corpus-query
    * plan (its per-term postings filter is what a saved positional
    * index can push down — a per-row fold must read every document).
    */
  def phraseMatchExpr(textCol: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "empty phrase")
    val n = phrase.length
    val w = tokens(textCol)
    // null text scores 0, like every other non-matching document — the
    // join form simply emits no row, and a gate summing or filtering on
    // the count must see the same thing (coalesce, not propagated null)
    coalesce(when(size(w) < n, lit(0L)).otherwise(
      aggregate(sequence(lit(0), size(w) - n), lit(0L),
        (acc, i) => acc + when(
          phrase.zipWithIndex
            .map { case (t, j) => element_at(w, i + j + 1) === t }
            .reduce(_ && _), lit(1L)).otherwise(lit(0L)))), lit(0L))
  }

  /** Default window for [[proximitySearch]] (t48): "within 5 tokens". */
  val ProximitySlop = 5

  /** PROXIMITY SEARCH (t48) — [[phraseSearch]]'s sloppy sibling: per-doc
    * count of ORDERED term pairs where `b` follows `a` within `slop`
    * tokens (0 < pos_b − pos_a ≤ slop; slop 1 degenerates to the exact
    * bigram). The position predicate is a RANGE, not an equality — the
    * same trap as the w8 event-time range join, solved the same way
    * ([[graft.operators.RangeJoin.banded]]'s blocking, applied INSIDE
    * the document): positions quantize into slop-width buckets that
    * join as part of the equi-key — the a-side occupies buckets b and
    * b+1 (the two a window starting inside bucket b can reach), so one
    * term-spammed document cannot own a |A|×|B| pair blowup on a single
    * reducer — then the exact range filter decides. One corpus pass
    * builds both terms' postings (checkpointed once, both legs derive).
    */
  def proximitySearch(docs: DataFrame, a: String, b: String,
                      slop: Int = ProximitySlop): DataFrame = {
    require(slop >= 1, "slop must be at least 1")
    val pos = buildPositionalIndex(docs).postings
      .filter(col("t").isin(Seq(a, b).distinct: _*))
      .localCheckpoint(true)
    proximityFromIndex(PositionalIndex(pos), a, b, slop)
  }

  /** [[proximitySearch]]'s PER-ROW form — [[phraseMatchExpr]]'s sloppy
    * sibling, completing the per-row twin pair: the ordered-pair count
    * (0 < pos_b − pos_a ≤ slop) as a pure array fold over one
    * document's own tokens — for each occurrence of `b`, count the `a`s
    * in the preceding slop-wide window. No explode, no join, no state:
    * the form a streaming gate applies per arriving document. Equality
    * with the join form is unit-pinned; the join form stays the
    * corpus-query plan (its per-term filters are what the saved index
    * pushes down — a per-row fold must read every document).
    */
  def proximityMatchExpr(textCol: Column, a: String, b: String,
                         slop: Int = ProximitySlop): Column = {
    require(slop >= 1, "slop must be at least 1")
    val w = tokens(textCol)
    // i is the 0-based position of a candidate `b`; the inner fold
    // counts `a`s at positions [i - slop, i - 1]. sequence() never runs
    // backwards (Spark descends when start > stop), so i = 0 is guarded.
    // null text scores 0 (coalesce), matching the join form's no-row.
    coalesce(when(size(w) < 2, lit(0L)).otherwise(
      aggregate(sequence(lit(0), size(w) - 1), lit(0L),
        (acc, i) => acc + when(element_at(w, i + 1) === b && i >= 1,
          aggregate(sequence(greatest(lit(0), i - slop), i - 1), lit(0L),
            (inner, j) => inner +
              when(element_at(w, j + 1) === a, 1L).otherwise(0L)))
          .otherwise(lit(0L)))), lit(0L))
  }

  /** Default chain gap and benchmark terms for [[spanNearFromIndex]]
    * (t53) — fixture-vocabulary terms that chain at sf0.001 and up.
    */
  val SpanNearGap = 8
  val SpanNearTerms: Seq[String] = Seq("window", "join", "hash")

  /** SPAN-NEAR SEARCH (t53 — Lucene's ordered SpanNearQuery): per-doc
    * count of ordered occurrence CHAINS p₁ < p₂ < … < pₖ with every
    * consecutive gap within `gap`, closing the positional query family:
    * phrase (t47) is the adjacency-locked case, proximity (t48) the
    * k = 2 case, this the general k. Each chain step is EXACTLY t48's
    * banded range join — the chain-prefix side explodes into the two
    * slop-width buckets its window can reach — so the whole query is
    * k−1 postings-sized equi-joins (each surviving row IS a distinct
    * chain prefix, multiplicity preserved by construction), never a
    * per-doc scan, and a term-spammed document still cannot own a
    * single-reducer pair blowup. Served from the saved positional
    * index, the k term filters are pushed-down row-group seeks.
    */
  def spanNearFromIndex(idx: PositionalIndex,
                        terms: Seq[String] = SpanNearTerms,
                        gap: Int = SpanNearGap): DataFrame = {
    require(terms.length >= 2, "span-near needs at least two terms")
    require(gap >= 1, "gap must be at least 1")
    val legs = terms.map(t =>
      idx.postings.filter(col("t") === t).select(col("doc_id"), col("p")))
    val chains = legs.tail.foldLeft(legs.head) { (prefix, leg) =>
      val pa = prefix.select(col("doc_id"), col("p").as("pa"),
        explode(array(expr(s"p div $gap"), expr(s"p div $gap") + 1)).as("bk"))
      val lb = leg.select(col("doc_id"), col("p").as("pb"),
        expr(s"p div $gap").as("bk"))
      pa.join(lb, Seq("doc_id", "bk"))
        .filter(col("pb") - col("pa") > 0 && col("pb") - col("pa") <= gap)
        .select(col("doc_id"), col("pb").as("p"))
    }
    chains.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chains"))
      .orderBy(col("doc_id"))
  }

  /** [[spanNearFromIndex]] built in-lineage (the t47/t48 convention):
    * one corpus pass cut to the chain's own terms, checkpointed once.
    */
  def spanNearSearch(docs: DataFrame, terms: Seq[String] = SpanNearTerms,
                     gap: Int = SpanNearGap): DataFrame = {
    require(terms.length >= 2, "span-near needs at least two terms")
    val pos = buildPositionalIndex(docs).postings
      .filter(col("t").isin(terms.distinct: _*))
      .localCheckpoint(true)
    spanNearFromIndex(PositionalIndex(pos), terms, gap)
  }

  /** MULTI-QUERY SPAN-NEAR SERVING — the [[proximityServeBatch]]
    * convention for the general ordered chain, completing the serving
    * symmetry of the positional family (phrase and proximity each ship
    * a batch server; span-near is their generalization, so its server
    * subsumes both): each request row is (query_id, terms
    * ARRAY&lt;STRING&gt;, gap), answered with exactly
    * [[spanNearFromIndex]]'s semantics — one-row batches reproduce t53
    * verbatim and a k = 2 request equals the proximity form
    * (unit-pinned).
    *
    * A chain of k terms needs k−1 join steps — a per-k plan shape,
    * which a mixed-k batch cannot share leg-for-leg. The batch form
    * plans kMax−1 steps (kMax = the batch's longest chain, a one-row
    * driver aggregate — request-bounded like the term collect) and
    * lets each query FINISH EARLY: after step s, rows of queries whose
    * chain length is exactly s+1 are complete and exit to the result
    * union; only longer chains continue into step s+1. A query's rows
    * never meet another query's (query_id rides every equi-key), and
    * each step is t48's banded range join with the REQUEST'S OWN gap —
    * the prefix side explodes into the two gap-width buckets its
    * window can reach, the gap applied after the term join attaches
    * it, so mixed-gap batches serve in one plan.
    *
    * Malformed requests (null or sub-2 term arrays, null or sub-1
    * gaps) are DROPPED, not allowed to kill the batch;
    * [[spanNearServeRejects]] returns exactly the dropped query_ids.
    *
    * Scale shape: the batch's distinct terms push down as the literal
    * IN on the occurrence scan (row-group seek under the t-sorted
    * layout; [[ServeTermPushdownMax]] caps the literal with the
    * broadcast-join fallback past it), the exploded request rows
    * broadcast onto the postings, and every join keys on (query, doc,
    * bucket) — postings-sized rows, term-spam-safe by the banding
    * argument. Driver round-trips: the capped term collect plus one
    * 1-row kMax aggregate, both request-bounded, never data-bounded.
    */
  def spanNearServeBatch(queries: DataFrame,
                         idx: PositionalIndex): DataFrame = {
    val valid = queries.filter(spanNearValidPred)
      .select(col("query_id"), col("terms"), col("gap"),
        size(col("terms")).as("n"))
    val qt = valid.select(col("query_id"), col("gap"), col("n"),
      posexplode(col("terms")).as(Seq("off", "t")))
    val terms = qt.select(col("t")).distinct()
    val termList = terms.limit(ServeTermPushdownMax + 1)
      .collect().map(_.getString(0))
    val restricted =
      if (termList.isEmpty) idx.postings.filter(lit(false))
      else if (termList.length <= ServeTermPushdownMax)
        idx.postings.filter(col("t").isin(termList.toSeq: _*))
      else idx.postings.join(broadcast(terms), "t")
    // the batch's longest chain: a one-row aggregate (request-bounded)
    val kMax = valid.agg(coalesce(max(col("n")), lit(2)))
      .collect()(0).getInt(0)
    // step-s postings: each query's offset-s term occurrences, with the
    // request's own gap and chain length riding the row
    def leg(s: Int): DataFrame =
      restricted.join(broadcast(qt.filter(col("off") === s)), "t")
        .select(col("query_id"), col("doc_id"), col("p"),
          col("gap"), col("n"))
    val finished = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var prefix = leg(0)
    for (s <- 1 until kMax) {
      finished += prefix.filter(col("n") === s)
        .select(col("query_id"), col("doc_id"))
      val active = prefix.filter(col("n") > s)
      val pa = active.select(col("query_id"), col("doc_id"),
        col("p").as("pa"), col("gap"), col("n"),
        explode(array(expr("p div gap"), expr("p div gap") + 1)).as("bk"))
      val lb = leg(s).select(col("query_id"), col("doc_id"),
        col("p").as("pb"), expr("p div gap").as("bk"))
      prefix = pa.join(lb, Seq("query_id", "doc_id", "bk"))
        .filter(col("pb") - col("pa") > 0 && col("pb") - col("pa") <= col("gap"))
        .select(col("query_id"), col("doc_id"), col("pb").as("p"),
          col("gap"), col("n"))
    }
    finished += prefix.select(col("query_id"), col("doc_id"))
    finished.reduce(_.unionByName(_))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_chains"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** [[spanNearFromIndex]]'s PER-ROW form — completing the per-row
    * twin triple (phrase t47, proximity t48, span-near t53): the
    * ordered-chain count as a pure nested array fold over one
    * document's own tokens. chains(i, j) = number of chains of
    * terms[0..j] ending at position i — 1 if j = 0 and the token
    * matches, else the sum of chains(p, j−1) over the gap-wide window
    * p ∈ [i−gap, i−1]; the total is Σᵢ chains(i, k−1). No explode, no
    * join, no state: the form a streaming gate applies per arriving
    * document. Equality with the join form is unit-pinned (including
    * k = 2 ≡ [[proximityMatchExpr]]); null text scores 0.
    *
    * Cost: the nesting is k−1 folds deep, O(len · gap^(k−1)) worst
    * case per row — the per-row gate trade for small k (the default
    * chain is 3 terms). The join form stays the corpus-query plan: its
    * per-term postings filters are what the saved index pushes down,
    * while a per-row fold must read every document.
    */
  def spanNearMatchExpr(textCol: Column, terms: Seq[String] = SpanNearTerms,
                        gap: Int = SpanNearGap): Column = {
    require(terms.length >= 2, "span-near needs at least two terms")
    require(gap >= 1, "gap must be at least 1")
    val w = tokens(textCol)
    def chainsEndingAt(i: Column, j: Int): Column =
      if (j == 0) when(element_at(w, i + 1) === terms.head, lit(1L))
        .otherwise(lit(0L))
      else when(element_at(w, i + 1) === terms(j) && i >= 1,
        aggregate(sequence(greatest(lit(0), i - gap), i - 1), lit(0L),
          (acc, p) => acc + chainsEndingAt(p, j - 1)))
        .otherwise(lit(0L))
    coalesce(when(size(w) < terms.length, lit(0L)).otherwise(
      aggregate(sequence(lit(0), size(w) - 1), lit(0L),
        (acc, i) => acc + chainsEndingAt(i, terms.length - 1))), lit(0L))
  }

  /** Oracle for [[spanNearServeBatch]] (t54): each request's chain is
    * the per-query [[sqlSpanNearSearch]] join form with its query_id
    * as a literal, UNION ALL'd — the batch must equal running every
    * request alone.
    */
  def sqlSpanNearServeBatch(requests: Seq[(Long, Seq[String], Int)]): String = {
    val legs = requests.map { case (qid, terms, gap) =>
      val ls = terms.zipWithIndex.map { case (term, i) =>
        s"l$i AS (SELECT doc_id, i AS p$i FROM pp WHERE t = ${Portable.sqlLit(term)})"
      }.mkString(",\n")
      val joins = (1 until terms.length).map(i =>
        s"JOIN l$i ON l$i.doc_id = l${i - 1}.doc_id " +
          s"AND l$i.p$i - l${i - 1}.p${i - 1} BETWEEN 1 AND $gap").mkString(" ")
      s"""SELECT * FROM (WITH $ls
         |SELECT $qid::BIGINT AS query_id, l0.doc_id,
         |  count(*)::BIGINT AS n_chains
         |FROM l0 $joins GROUP BY l0.doc_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i))
       |$legs
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** Default window and benchmark terms for [[coocFromIndex]] (t57). */
  val CoocWindow = 12
  val CoocTerms: Seq[String] = Seq("window", "join", "hash")

  /** UNORDERED CO-OCCURRENCE WINDOWS (t57 — Lucene's UNORDERED
    * SpanNearQuery, classic IR's `WITHIN` operator): per-doc count of
    * window START positions whose `window`-token span contains at
    * least one occurrence of EVERY query term, in any order —
    * completing the positional query family's ordered/unordered pair
    * (phrase = ordered+adjacent, span-near = ordered+gapped, this =
    * order-free). Duplicate request terms collapse (set semantics: a
    * window containing "a" satisfies both "a"s).
    *
    * The plan is the [[phraseServeBatch]] COVERAGE trick generalized:
    * each occurrence of a term at position p COVERS the starts
    * [p−window+1, p] (every window beginning there contains it), so
    * explode each occurrence into its covered starts and a start is a
    * hit iff its (doc, start) group covers ALL k distinct terms —
    * countDistinct(t) = k. No pair join AT ALL: cost is window ×
    * posting volume rows into one partial-aggregated count — even a
    * term-spammed document cannot build a cross product, because
    * nothing is ever joined against anything.
    */
  def coocFromIndex(idx: PositionalIndex,
                    terms: Seq[String] = CoocTerms,
                    window: Int = CoocWindow): DataFrame = {
    val ts = terms.distinct
    require(ts.length >= 2, "co-occurrence needs at least two distinct terms")
    require(window >= 1, "window must be at least 1")
    idx.postings.filter(col("t").isin(ts: _*))
      .select(col("t"), col("doc_id"),
        explode(sequence(greatest(col("p") - (window - 1), lit(0)),
          col("p"))).as("w0"))
      .groupBy(col("doc_id"), col("w0"))
      .agg(countDistinct(col("t")).as("k"))
      .filter(col("k") === ts.length)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
      .orderBy(col("doc_id"))
  }

  /** [[coocFromIndex]] built in-lineage (the t47/t48 convention). One
    * corpus pass cut to the query's own terms; a single consumer, so no
    * checkpoint is needed.
    */
  def coocSearch(docs: DataFrame, terms: Seq[String] = CoocTerms,
                 window: Int = CoocWindow): DataFrame =
    coocFromIndex(buildPositionalIndex(docs), terms, window)

  /** MULTI-QUERY CO-OCCURRENCE SERVING: each request row is (query_id,
    * terms ARRAY&lt;STRING&gt;, win), and — unlike span-near, whose
    * chains need kMax−1 join steps — the coverage count is ONE
    * fixed-shape plan for ANY mix of term counts and windows: the
    * request's own win rides the explode and its distinct-term count
    * rides the coverage test. Malformed requests (fewer than two
    * distinct terms, null/sub-1 windows) are dropped;
    * [[coocServeRejects]] returns exactly them.
    *
    * Scale shape: pushed-down term IN under [[ServeTermPushdownMax]]
    * (broadcast fallback past it), exploded request rows broadcast,
    * win × postings coverage rows partial-aggregate on (query, doc,
    * start) — never a join of postings against postings.
    */
  def coocServeBatch(queries: DataFrame, idx: PositionalIndex): DataFrame = {
    val valid = queries.filter(coocValidPred)
    val qt = valid.select(col("query_id"), col("win"),
      size(array_distinct(col("terms"))).as("n"),
      explode(array_distinct(col("terms"))).as("t"))
    val terms = qt.select(col("t")).distinct()
    val termList = terms.limit(ServeTermPushdownMax + 1)
      .collect().map(_.getString(0))
    val restricted =
      if (termList.isEmpty) idx.postings.filter(lit(false))
      else if (termList.length <= ServeTermPushdownMax)
        idx.postings.filter(col("t").isin(termList.toSeq: _*))
      else idx.postings.join(broadcast(terms), "t")
    restricted.join(broadcast(qt), "t")
      .select(col("query_id"), col("n"), col("t"), col("doc_id"),
        explode(sequence(greatest(col("p") - (col("win") - 1), lit(0)),
          col("p"))).as("w0"))
      .groupBy(col("query_id"), col("n"), col("doc_id"), col("w0"))
      .agg(countDistinct(col("t")).as("k"))
      .filter(col("k") === col("n"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  private def coocValidPred: Column =
    col("terms").isNotNull && size(array_distinct(col("terms"))) >= 2 &&
      forall(col("terms"), _.isNotNull) &&
      col("win").isNotNull && col("win") >= 1

  /** The query_ids [[coocServeBatch]] drops as malformed. */
  def coocServeRejects(queries: DataFrame): DataFrame =
    queries.filter(!coocValidPred).select(col("query_id"))
      .orderBy(col("query_id"))

  /** [[coocFromIndex]]'s PER-ROW form, completing the per-row quartet
    * (phrase, proximity, span-near, co-occurrence): for each start
    * position, every term must appear somewhere in the next `window`
    * tokens — `exists` over an array slice per term, no explode, no
    * join, no state. O(len · window · k) per row; null text scores 0.
    */
  def coocMatchExpr(textCol: Column, terms: Seq[String] = CoocTerms,
                    window: Int = CoocWindow): Column = {
    val ts = terms.distinct
    require(ts.length >= 2, "co-occurrence needs at least two distinct terms")
    require(window >= 1, "window must be at least 1")
    val w = tokens(textCol)
    coalesce(when(size(w) < 1, lit(0L)).otherwise(
      aggregate(sequence(lit(0), size(w) - 1), lit(0L),
        (acc, i) => acc + when(
          ts.map(t => exists(slice(w, i + 1, lit(window)), x => x === t))
            .reduce(_ && _), lit(1L)).otherwise(lit(0L)))), lit(0L))
  }

  /** Oracle for [[coocFromIndex]]: the identical coverage walk over
    * 1-based positions (counts are base-invariant — shifting every
    * position shifts every covered start with it).
    */
  def sqlCoocSearch(terms: Seq[String] = CoocTerms,
                    window: Int = CoocWindow): String = {
    val ts = terms.distinct
    sqlCoocOver(ts, window, s"$window", ts.length.toString, "TRUE")
  }

  private def sqlCoocOver(ts: Seq[String], window: Int, winExpr: String,
                          nExpr: String, pred: String): String = {
    val inList = ts.map(Portable.sqlLit).mkString(", ")
    s"""SELECT doc_id, count(*)::BIGINT AS n_windows FROM (
       |  SELECT doc_id, s FROM (
       |    SELECT DISTINCT doc_id, t, s FROM (
       |      SELECT doc_id, i, t FROM pp WHERE t IN ($inList) AND $pred),
       |      LATERAL unnest(range(greatest(i - ($winExpr - 1), 1), i + 1)) r(s))
       |  GROUP BY doc_id, s HAVING count(DISTINCT t) = $nExpr)
       |GROUP BY doc_id""".stripMargin
  }

  /** Full oracle (with the token CTEs) for [[coocSearch]]/t57. */
  def sqlCoocSearchFull(terms: Seq[String] = CoocTerms,
                        window: Int = CoocWindow): String =
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i))
       |${sqlCoocSearch(terms, window)}
       |ORDER BY doc_id""".stripMargin

  /** Oracle for [[coocServeBatch]] (t58): per-request coverage walks
    * with literal query_ids, UNION ALL'd (the t54 convention).
    */
  def sqlCoocServeBatch(requests: Seq[(Long, Seq[String], Int)]): String = {
    val legs = requests.map { case (qid, terms, win) =>
      val ts = terms.distinct
      s"""SELECT $qid::BIGINT AS query_id, doc_id, n_windows FROM (
         |${sqlCoocOver(ts, win, win.toString, ts.length.toString, "TRUE")})""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i))
       |$legs
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** Stop-candidate threshold for [[termCostDeciles]]: a term whose
    * document frequency exceeds 1/[[StopDfDenominator]] of the corpus
    * (20%) is a serve-time stop candidate.
    */
  val StopDfDenominator = 5

  /** HOT-TERM SERVING COST TABLE (t55) — the d18/s10 honesty pattern
    * applied to the term-seek serving path: a stopword query term drags
    * its WHOLE posting list through [[bm25ServeBatch]] /
    * [[phraseServeBatch]] / [[spanNearServeBatch]] — the inherent cost
    * of term-keyed retrieval, priced here per df-decile BEFORE an
    * operator wires a request stream to the index. Terms rank into
    * deciles by document frequency (the total order (df, occ, t) —
    * t unique — rides [[Ranking.withNtile]], the distributed bucketing,
    * because the vocabulary is data-scaled); per decile: term count,
    * total posting volume, the worst df, and the worst single-term
    * serve cost `max_occ` (occurrence rows ONE term at that decile
    * drags through a serve plan — the row count the pushed-down seek
    * reads, so the table IS the measured per-request cost model).
    *
    * THE POLICY this table feeds (the serve-time stop rule): a term
    * with df &gt; corpus/[[StopDfDenominator]] is a stop CANDIDATE
    * (`n_stop_candidates` counts them per decile — they concentrate in
    * decile 10). Serving keeps answering them correctly — dropping
    * terms silently would corrupt phrase/chain semantics — but an
    * operator should either strip them from request streams upstream
    * or budget the top decile's `max_occ` rows per request; alerting
    * on requests that touch stop candidates is the
    * `*ServeRejects`-style detection channel, applied to cost instead
    * of malformedness.
    *
    * Scale shape: one aggregate over the saved occurrence table
    * (postings-sized, never the corpus), a vocabulary-sized distributed
    * ntile (range shuffle — no serial window), a broadcast one-row
    * corpus count, and a 10-row report.
    */
  def termCostDeciles(idx: PositionalIndex, docs: DataFrame): DataFrame = {
    val stats = idx.postings.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("occ"))
    val deciled = Ranking.withNtile(stats, "decile", 10,
      Seq(col("df"), col("occ"), col("t")))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    deciled.crossJoin(broadcast(nd))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("occ")).as("postings_volume"),
        max(col("df")).as("max_df"),
        max(col("occ")).as("max_occ"),
        sum(when(col("df") * StopDfDenominator > col("n_docs"), 1L)
          .otherwise(0L)).as("n_stop_candidates"))
      .orderBy(col("decile"))
  }

  /** The ACTIONABLE output of [[termCostDeciles]]'s policy (t56): the
    * stop-candidate terms themselves — every term whose df exceeds
    * corpus/[[StopDfDenominator]], with its df, occurrence volume
    * (the rows ONE request carrying it drags through a serve plan),
    * and its share of the corpus in ppm — the list an upstream
    * request-stripper loads, or an alerting rule joins request streams
    * against. Worst terms first.
    *
    * Scale shape: one aggregate over the occurrence table, a broadcast
    * one-row corpus count, a stop-list-sized result (a term must appear
    * in a fifth of all documents to qualify — the list is inherently
    * tiny however large the corpus).
    */
  def servingStopCandidates(idx: PositionalIndex, docs: DataFrame): DataFrame = {
    val stats = idx.postings.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("occ"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    stats.crossJoin(broadcast(nd))
      .filter(col("df") * StopDfDenominator > col("n_docs"))
      .select(col("t"), col("df"), col("occ"),
        expr("df * 1000000 div n_docs").as("df_ppm"))
      .orderBy(col("df").desc, col("t"))
  }

  /** THE POSITIONAL FAMILY'S HOT-TERM PROTECTION, made wireable (the
    * round-16 scope note turned into code): the t59/s20 budgets are
    * bag-of-words-only BY DESIGN — dropping a term from a
    * phrase/span-near/cooc request changes what it MEANS, not just how
    * well it's answered — so the positional servers never strip terms.
    * Their protection is a GATE, not a rewrite: this table lists, per
    * request, every [[servingStopCandidates]] term the request touches
    * together with its occurrence volume `occ` — the posting rows that
    * ONE leg would drag through k−1 join steps of the serve plan.
    * [[graft.streaming.CurationStream.HotTermGuard]] refuses such
    * requests whole and hands this table to the operator (the request's
    * cost and the exact term that caused it), leaving unguarded serving's
    * serve-anything semantics untouched for callers that strip upstream.
    *
    * `termsCol` names the request column holding the term array
    * ("terms" for span-near/cooc, "phrase" for the phrase family);
    * proximity's (a, b) pair form is `array(a, b)` at the call site.
    * Malformed requests (null array / null element) emit nothing here —
    * they stay on the malformed-rejects channel, which judges shape,
    * not cost.
    *
    * Scale shape: one explode of the request batch, one broadcast join
    * against the inherently tiny stop list (a term must appear in a
    * fifth of all documents to qualify), zero index reads.
    */
  def positionalStopLegs(requests: DataFrame, stop: DataFrame,
                         termsCol: String = "terms"): DataFrame =
    requests
      .filter(col(termsCol).isNotNull && forall(col(termsCol), _.isNotNull))
      .select(col("query_id"), explode(col(termsCol)).as("t")).distinct()
      .join(broadcast(stop.select(col("t"), col("occ"))), "t")
      .select(col("query_id"), col("t"), col("occ"))
      .orderBy(col("query_id"), col("t"))

  /** Oracle for [[positionalStopLegs]] (t61): the request batch as a
    * VALUES table, the t56 stop-candidate rule replayed from the base
    * documents, the same distinct-terms join — (query_id, t, occ) rows
    * in (query_id, t) order, integer/string only so the comparison is
    * hash-exact.
    */
  def sqlPositionalStopLegs(requests: Seq[(Long, Seq[String])]): String = {
    val vals = requests.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid::BIGINT, ${Portable.sqlLit(t)})")
    }.mkString(", ")
    s"""WITH req AS (SELECT DISTINCT query_id, t
       |  FROM (VALUES $vals) v(query_id, t)),
       |gtoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |gpp AS (SELECT doc_id, w[i] AS t FROM gtoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i)),
       |gts AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS df,
       |  count(*)::BIGINT AS occ FROM gpp GROUP BY t),
       |gnd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       |gstop AS (SELECT t, occ FROM gts, gnd
       |  WHERE df * $StopDfDenominator > n_docs)
       |SELECT r.query_id, r.t, s.occ
       |FROM req r JOIN gstop s USING (t)
       |ORDER BY query_id, t""".stripMargin
  }

  /** Oracle for [[servingStopCandidates]]: identical stats, the same
    * integer stop rule and ppm arithmetic.
    */
  def sqlServingStopCandidates: String =
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i)),
       |ts AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS df,
       |  count(*)::BIGINT AS occ FROM pp GROUP BY t),
       |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
       |SELECT t, df, occ, (df * 1000000 // n_docs)::BIGINT AS df_ppm
       |FROM ts, nd WHERE df * $StopDfDenominator > n_docs
       |ORDER BY df DESC, t""".stripMargin

  /** Oracle for [[termCostDeciles]]: the identical term stats and
    * decile walk — ntile over the same total order (df, occ, t), the
    * integer stop-candidate rule (df · 5 &gt; corpus), all-integer
    * columns so the comparison is hash-exact.
    */
  def sqlTermCostDeciles: String =
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i)),
       |ts AS (SELECT t, count(DISTINCT doc_id)::BIGINT AS df,
       |  count(*)::BIGINT AS occ FROM pp GROUP BY t),
       |dec AS (SELECT t, df, occ,
       |  ntile(10) OVER (ORDER BY df, occ, t)::INT AS decile FROM ts)
       |SELECT decile, count(*)::BIGINT AS n_terms,
       |  sum(occ)::BIGINT AS postings_volume,
       |  max(df)::BIGINT AS max_df, max(occ)::BIGINT AS max_occ,
       |  sum(CASE WHEN df * $StopDfDenominator >
       |    (SELECT count(*) FROM documents) THEN 1 ELSE 0 END)::BIGINT
       |    AS n_stop_candidates
       |FROM dec GROUP BY decile ORDER BY decile""".stripMargin

  /** Oracle for [[spanNearFromIndex]]: the plain chained range joins the
    * banded form must equal.
    */
  def sqlSpanNearSearch(terms: Seq[String] = SpanNearTerms,
                        gap: Int = SpanNearGap): String = {
    val legs = terms.zipWithIndex.map { case (term, i) =>
      s"l$i AS (SELECT doc_id, i AS p$i FROM pp WHERE t = ${Portable.sqlLit(term)})"
    }.mkString(",\n")
    val joins = (1 until terms.length).map(i =>
      s"JOIN l$i ON l$i.doc_id = l${i - 1}.doc_id " +
        s"AND l$i.p$i - l${i - 1}.p${i - 1} BETWEEN 1 AND $gap").mkString(" ")
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i)),
       |$legs
       |SELECT l0.doc_id, count(*)::BIGINT AS n_chains
       |FROM l0 $joins
       |GROUP BY l0.doc_id ORDER BY l0.doc_id""".stripMargin
  }

  /** Oracle for [[proximitySearch]]: the plain range join the banded
    * form must equal (DuckDB's optimizer handles the small fixture; the
    * banding exists for the 100 TB side, not the oracle).
    */
  def sqlProximitySearch(a: String, b: String,
                         slop: Int = ProximitySlop): String =
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i)),
       |la AS (SELECT doc_id, i AS pa FROM pp WHERE t = ${Portable.sqlLit(a)}),
       |lb AS (SELECT doc_id, i AS pb FROM pp WHERE t = ${Portable.sqlLit(b)})
       |SELECT doc_id, count(*)::BIGINT AS n_pairs
       |FROM la JOIN lb USING (doc_id)
       |WHERE pb - pa > 0 AND pb - pa <= $slop
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for [[phraseSearch]]: the same aligned-position equi-join
    * chain over 1-based array positions (the base cancels in the join).
    */
  def sqlPhraseSearch(phrase: Seq[String] = PhraseQuery): String =
    sqlPhraseSearchOver("TRUE", phrase)

  /** [[sqlPhraseSearch]] over a corpus restriction — the t51 tombstoned
    * survivor set (the sqlBm25TopKOver convention).
    */
  def sqlPhraseSearchOver(pred: String,
                          phrase: Seq[String] = PhraseQuery): String = {
    val legs = phrase.zipWithIndex.map { case (term, i) =>
      s"l$i AS (SELECT doc_id, i - $i AS p0 FROM pp WHERE t = ${Portable.sqlLit(term)})"
    }.mkString(",\n")
    val joins = (1 until phrase.length)
      .map(i => s"JOIN l$i USING (doc_id, p0)").mkString(" ")
    s"""WITH stoks AS (SELECT doc_id, ${Portable.sqlTokens("text")} AS w
       |  FROM documents WHERE $pred),
       |pp AS (SELECT doc_id, i, w[i] AS t FROM stoks,
       |  LATERAL unnest(range(1, len(w) + 1)) r(i)),
       |$legs
       |SELECT doc_id, count(*)::BIGINT AS n_matches
       |FROM l0 $joins
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** COMPACT a BM25 index into the t-sorted serving layout (t46 — the
    * maintenance leg [[mergeBm25Indexes]] makes necessary): each t34
    * merge is content-correct but LAYOUT-fragmenting — the union keeps
    * every input file, so after k merges a term's posting list straddles
    * up to k files whose [min_t, max_t] footers overlap, and the
    * index-seek serving path ([[bm25ServeBatch]]'s pushed-down IN, which
    * skips row groups BY those footers) degrades toward a probe of
    * every file. Compaction rewrites the postings through the IDENTICAL
    * physical contract as [[trainAndSaveBm25Index]] — range-partitioned
    * and sorted by the term key, so files carry tight, non-overlapping
    * term ranges again — and re-persists the other three tables as they
    * stand. Pure data movement: no re-tokenization, no count
    * re-derivation; serving from the compacted index must hash-match
    * the fresh full-corpus build (the [[graft.operators.Layout]]
    * per-cell compaction idea, applied to the retrieval index).
    *
    * Scale shape: one range shuffle of the postings table (the artifact,
    * never the corpus) sized by `spark.sql.shuffle.partitions` /
    * maxRecordsPerFile; a 100 TB tier runs it as the nightly step after
    * the day's shard merges, exactly like log-structured stores compact
    * L0 runs.
    */
  def compactAndSaveBm25Index(idx: Bm25Index, dir: String): Bm25Index = {
    // never in place: overwrite deletes `dir` before the lazy reads run
    graft.sources.ModelStore.requireNotInPlace(dir,
      idx.postings, idx.doclen, idx.stats, idx.corpus)
    idx.postings
      .repartitionByRange(col("t"))
      .sortWithinPartitions(col("t"), col("doc_id"))
      .write.option("maxRecordsPerFile", "5000000")
      .mode("overwrite").parquet(s"$dir/bm25_postings")
    graft.sources.ModelStore.saveLarge(idx.doclen, s"$dir/bm25_doclen")
    // compaction re-establishes the full layout contract, stats included
    // (a merged index's stats arrive as an unioned aggregate — this is
    // where they regain tight [min_t, max_t] footers); same explicit
    // small width as the fresh save — vocabulary-sized table, no
    // near-empty file scatter
    idx.stats
      .repartitionByRange(Bm25StatsFiles, col("t"))
      .sortWithinPartitions(col("t"))
      .write.mode("overwrite").parquet(s"$dir/bm25_stats")
    graft.sources.ModelStore.save(idx.corpus, s"$dir/bm25_corpus")
    loadBm25Index(idx.postings.sparkSession, dir)
  }

  /** Cavnar–Trenkle profile sizes: per-language and per-document top
    * trigram counts. The language profile is rank-truncated at
    * [[CtLangTop]]; a document gram absent from a profile costs exactly
    * that maximum rank distance.
    */
  val CtLangTop = 50
  val CtDocTop = 20

  /** CHARACTER-N-GRAM LANGUAGE ID (t37, Cavnar & Trenkle 1994) — the
    * real algorithm behind fastText-era langid's ancestors, replacing
    * t3's marker-word heuristic with trained profiles: each language's
    * profile is its top-[[CtLangTop]] character trigrams RANKED by
    * frequency (ties on the gram text); a document's top-[[CtDocTop]]
    * trigrams score against every candidate profile by OUT-OF-PLACE
    * distance — Σ |doc_rank − profile_rank|, an absent gram costing the
    * maximum [[CtLangTop]] — and the minimum-distance language wins
    * (alphabetical ties). Trained on the corpus's own lang labels;
    * emits the prediction and its correctness per doc, the honesty
    * column t29's confusion matrix consumes.
    *
    * Scale shape: gram counting is the t5 shape (explode + map-side
    * combined (doc, gram) groupBy); the language profile is ≤ langs ×
    * [[CtLangTop]] rows and BROADCASTS; scoring fans each doc's ≤
    * [[CtDocTop]] grams across the candidate languages (a bounded
    * constant per doc) and partial-aggregates the distance. Integer
    * arithmetic end to end — no fp contract needed.
    */
  def ctLangId(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"), col("lang"),
        lower(trim(col("text"))).as("t"))
      .filter(length(col("t")) >= 3)
    // single-scan contract (the d21 precedent, re-aggregation form): the
    // corpus-sized gram explode runs ONCE, into the per-(doc, gram) count
    // table, which both profiles consume — the language profile is a
    // second-level aggregate of those partial counts (sum of per-doc
    // counts == raw occurrence count). The materialized intermediate is
    // the distinct (doc, gram) table, far smaller than the raw gram
    // stream; without the checkpoint AQE does NOT reuse the exchange
    // (column pruning makes the two aggregate subtrees canonically
    // different), so the corpus would be scanned and exploded twice.
    // Measured at sf0.1 local[32] (parquet in page cache): 3.5 s -> 4.0 s
    // — the checkpoint costs ~0.4 s locally where scans are free, and
    // halves the dominant scan where they are not.
    val grams = t.select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), length(col("t")) - 2)).as("p"), col("t"))
      .select(col("doc_id"), col("lang"), expr("substring(t, p, 3)").as("g"))
    val docGram = grams.groupBy(col("doc_id"), col("lang"), col("g"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val langProf = docGram.groupBy(col("lang"), col("g"))
      .agg(sum(col("c")).as("c"))
      .withColumn("lr", row_number().over(
        W.partitionBy(col("lang")).orderBy(col("c").desc, col("g"))))
      .filter(col("lr") <= CtLangTop)
      .select(col("lang").as("cand"), col("g"), col("lr"))
    val docProf = docGram
      .withColumn("dr", row_number().over(
        W.partitionBy(col("doc_id")).orderBy(col("c").desc, col("g"))))
      .filter(col("dr") <= CtDocTop)
      .select(col("doc_id"), col("lang"), col("g"), col("dr"))
    // identical to langProf's language set (same length filter feeds
    // both) but a column-pruned scan instead of a third gram explode
    val langs = t.select(col("lang").as("cand")).distinct()
    val dists = docProf.crossJoin(broadcast(langs))
      .join(broadcast(langProf), Seq("cand", "g"), "left")
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(sum(coalesce(abs(col("dr") - col("lr")), lit(CtLangTop.toLong)))
        .as("dist"))
    // argmin via struct-min aggregate (the w14 "no rank window for a
    // top-1" idiom): same (dist, cand) tie-break as the row_number form,
    // but a hash aggregate replaces the per-doc sort window over the
    // docs × languages distance table
    dists.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct(col("dist"), col("cand"))).as("b"))
      .select(col("doc_id"), col("b.cand").as("pred"), col("b.dist").as("dist"),
        (col("b.cand") === col("lang")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for t37: identical gram walk, rank truncations, out-of-place
    * distance and argmin tie-breaks.
    */
  val sqlCtLangId: String =
    s"""WITH d AS (SELECT doc_id, lang, lower(trim(text)) AS t FROM documents
       |  WHERE len(lower(trim(text))) >= 3),
       |grams AS (SELECT doc_id, lang, substr(t, p, 3) AS g
       |  FROM d, LATERAL unnest(range(1, len(t) - 1)) u(p)),
       |lp AS (SELECT lang AS cand, g, lr FROM (
       |  SELECT lang, g, row_number() OVER (PARTITION BY lang
       |      ORDER BY count(*) DESC, g) AS lr
       |  FROM grams GROUP BY lang, g) WHERE lr <= $CtLangTop),
       |dp AS (SELECT doc_id, lang, g, dr FROM (
       |  SELECT doc_id, lang, g, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY count(*) DESC, g) AS dr
       |  FROM grams GROUP BY doc_id, lang, g) WHERE dr <= $CtDocTop),
       |langs AS (SELECT DISTINCT cand FROM lp),
       |dist AS (SELECT dp.doc_id, dp.lang, l.cand,
       |    CAST(sum(coalesce(abs(dp.dr - lp.lr), $CtLangTop)) AS BIGINT) AS dist
       |  FROM dp CROSS JOIN langs l
       |  LEFT JOIN lp ON lp.cand = l.cand AND lp.g = dp.g
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, cand AS pred, dist, cand = lang AS correct FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY dist, cand) AS rn FROM dist)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Top phrases kept per document by the RAKE extractor. */
  val RakeTopK = 3

  /** RAKE KEYWORD EXTRACTION (t36, Rose et al. 2010) — the
    * stopword-delimited phrase scorer: a document's candidate phrases
    * are its maximal stopword-free token runs (the w21 gaps-and-islands
    * walk applied INSIDE a token array — the run id is the running count
    * of stopwords before each token); each word scores degree/freq over
    * the document's phrases (degree = Σ lengths of phrases containing
    * it — co-occurrence favors words that live in long phrases), and a
    * phrase scores the sum of its words' scores. Top-[[RakeTopK]]
    * distinct phrases per doc, ties broken on the phrase text.
    *
    * Scale shape: everything is per-document — explode to (doc, pos,
    * token), one window per doc for the run ids, two partial-aggregated
    * groupBys ((doc, run) phrases and (doc, word) stats), a bounded
    * join back on (doc, word), the top-k window per doc. No corpus-wide
    * state at all; the whole extractor is embarrassingly parallel over
    * documents.
    *
    * FP contract: word scores are small-integer ratios rounded to 6 dp
    * and summed as DECIMAL (order-free); ranks compare the exact
    * decimals.
    */
  def rakePhrases(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("stop", col("tok").isin(Stopwords: _*))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    // runs feeds THREE consumers (phrases, wordStats, scored) and
    // phrases TWO — column pruning gives each a different canonical
    // subtree, so nothing reuses them and the tokenize explode + run-id
    // window re-ran per consumer (the shingle-fusion finding, §2.4).
    // One eager materialization each: runs is O(non-stop tokens) rows of
    // (doc_id, pos, tok, rid) — the d21 `ranked` §5 size/fault caveat
    // applies (non-replicated blocks; an executor loss fails the query
    // and the retry recomputes) — phrases is strictly smaller.
    val runs = toks
      .withColumn("rid", sum(col("stop").cast("long")).over(w))
      .filter(!col("stop") && col("tok") =!= "")
      .select(col("doc_id"), col("pos"), col("tok"), col("rid"))
      .localCheckpoint(true)
    val phrases = runs.groupBy(col("doc_id"), col("rid"))
      .agg(array_join(transform(array_sort(
          collect_list(struct(col("pos"), col("tok")))), x => x("tok")), " ")
          .as("phrase"),
        count(lit(1)).as("plen"))
      .localCheckpoint(true)
    val wordStats = runs.join(phrases.select(col("doc_id"), col("rid"), col("plen")),
        Seq("doc_id", "rid"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .withColumn("wscore",
        round(col("degree").cast("double") / col("freq"), 6).cast("decimal(28,6)"))
    val scored = runs.join(wordStats, Seq("doc_id", "tok"))
      .join(phrases.select(col("doc_id"), col("rid"), col("phrase")),
        Seq("doc_id", "rid"))
      .groupBy(col("doc_id"), col("rid"), col("phrase"))
      .agg(sum(col("wscore")).as("score"))
      .select(col("doc_id"), col("phrase"), col("score")).distinct()
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("phrase"))
    scored.withColumn("rnk", row_number().over(wr)).filter(col("rnk") <= RakeTopK)
      .select(col("doc_id"), col("rnk"), col("phrase"),
        // round in DECIMAL space then cast: rounding the double instead
        // diverges at 4-dp half boundaries (valueOf's shortest-repr vs
        // the true binary value — measured at sf0.1)
        round(col("score"), 4).cast("double").as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Oracle for t36: the identical explode -> stop-run walk -> per-doc
    * word stats -> decimal phrase sum -> top-k.
    */
  def sqlRakePhrases: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tw AS (SELECT doc_id, ${graft.functions.Portable.sqlTokens("text")} AS w
       |  FROM documents),
       |toks AS (SELECT doc_id, p - 1 AS pos, w[p] AS tok,
       |    w[p] IN ($stops) AS stop
       |  FROM tw, LATERAL unnest(range(1, len(w) + 1)) t(p)),
       |rids AS (SELECT doc_id, pos, tok, stop,
       |    CAST(sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rid
       |  FROM toks),
       |runs AS (SELECT doc_id, pos, tok, rid FROM rids
       |  WHERE NOT stop AND tok <> ''),
       |phrases AS (SELECT doc_id, rid,
       |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    CAST(count(*) AS BIGINT) AS plen
       |  FROM runs GROUP BY 1, 2),
       |ws AS (SELECT r.doc_id, r.tok,
       |    round(CAST(sum(p.plen) AS BIGINT)::DOUBLE / count(*), 6)::DECIMAL(28,6) AS wscore
       |  FROM runs r JOIN phrases p USING (doc_id, rid)
       |  GROUP BY 1, 2),
       |sc AS (SELECT DISTINCT s.doc_id, p.phrase, s.score FROM (
       |    SELECT r2.doc_id, r2.rid, sum(w.wscore) AS score
       |    FROM runs r2 JOIN ws w ON w.doc_id = r2.doc_id AND w.tok = r2.tok
       |    GROUP BY 1, 2) s
       |  JOIN phrases p ON p.doc_id = s.doc_id AND p.rid = s.rid)
       |SELECT doc_id, rnk, phrase, round(score, 4)::DOUBLE AS score FROM (
       |  SELECT doc_id, phrase, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, phrase) AS rnk
       |  FROM sc) WHERE rnk <= $RakeTopK
       |ORDER BY doc_id, rnk""".stripMargin
  }

  /** RRF constant (Cormack et al. 2009's k=60, the Lucene/ES default). */
  val RrfK = 60

  /** Hybrid retrieval via RECIPROCAL RANK FUSION (t33) — the two-tower
    * serving pattern: the same user query arrives in both of its forms
    * (the term list, and the query VECTOR its embedding model produced —
    * here the fixture's vec 0, with vec_id ≡ doc_id in the synthetic
    * corpus), each tower retrieves its top-k independently — BM25 over
    * the inverted index, exact cosine over the vector table — and the
    * lists fuse by RRF(d) = Σ 1/(K + rank_d), the score-free rule that
    * needs no cross-tower calibration (BM25 scores and cosines are not
    * comparable; ranks are).
    *
    * Scale shape: ALL the heavy lifting is inside the two component
    * retrievals, each already index-pruned (the BM25 scan touches |q|
    * posting lists; the dense tower swaps to the saved IVF-PQ path at
    * corpus scale). The fusion itself sees two k-row lists: a full-outer
    * join on doc_id + one window over ≤ 2k rows — per-query cost is
    * O(k), and a many-query batch would partition the same plan by qid.
    *
    * FP contract: each tower contributes exactly 1/(K+rank) — one IEEE
    * division — and the fused score is ONE two-term add in a fixed
    * expression order, identical in both engines; ties break on doc_id.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame,
                query: Seq[String] = Bm25Query, k: Int = Bm25TopK): DataFrame = {
    val lex = bm25TopK(docs, query, k)
      .select(col("doc_id"), col("rnk").as("lex_rnk"))
    val dense = Similarity.knnBrute(emb, 1, k)
      .select(col("vec_id").as("doc_id"), col("rnk").as("dense_rnk"))
    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("dense_rnk")), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("rnk"), col("doc_id"), round(col("rrf"), 6).as("rrf"),
        col("lex_rnk"), col("dense_rnk"))
      .orderBy(col("rnk"))
  }

  /** Oracle for t33: the two component oracles nested VERBATIM (the p32
    * composition rule — the fusion can never drift from the towers it
    * fuses), full-outer joined, the identical one-add RRF.
    */
  def sqlHybridRrf: String =
    s"""WITH lex AS (SELECT doc_id, rnk AS lex_rnk FROM (${sqlBm25TopK})),
       |dense AS (SELECT vec_id AS doc_id, rnk AS dense_rnk
       |  FROM (${Similarity.sqlKnnBrute(1, Bm25TopK)})),
       |fused AS (SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |    lex_rnk, dense_rnk,
       |    coalesce(1.0 / ($RrfK + lex_rnk), 0.0)
       |      + coalesce(1.0 / ($RrfK + dense_rnk), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
       |SELECT rnk, doc_id, round(rrf, 6) AS rrf, lex_rnk, dense_rnk FROM (
       |  SELECT doc_id, rrf, lex_rnk, dense_rnk,
       |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
       |  FROM fused) WHERE rnk <= $Bm25TopK
       |ORDER BY rnk""".stripMargin

  /** Unigram-LM surprisal per document (t13) — the oracle-checkable core of
    * the CCNet/KenLM-style perplexity quality filter: train a unigram model
    * on the corpus (add-one smoothing over the observed vocabulary), score
    * every document by its mean per-token surprisal in bits. Boilerplate
    * and in-distribution text scores low; rare-token noise scores high —
    * the standard "too surprising to be clean text" signal, here with an
    * exactly-reproducible model so both engines agree to the bit.
    *
    * Scale shape: ONE corpus pass builds the token-count model
    * (partial-aggregated); the two scalars (total tokens, vocab size) are a
    * broadcast single-row aggregate. Scoring joins per-doc TERM FREQUENCIES
    * (map-side combined on (doc, token) BEFORE any shuffle) against the
    * count table on the token key — so a hot stopword ships docs-containing
    * rows through the exchange, not every occurrence; AQE splits whatever
    * skew remains. The per-doc mean is the tf-weighted average, identical
    * arithmetic in the oracle. Nothing corpus-sized is broadcast.
    */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val (counts, totals) = unigramModel(docs)
    scoreUnigram(docs, counts, totals)
  }

  /** The t13 unigram model tables: counts (t, c) — vocabulary-scaling —
    * and the one-row totals (n, v). Split out so the model can be trained
    * once, persisted, and scored against ([[trainAndSaveSurprisalModel]]).
    */
  private def unigramModel(docs: DataFrame): (DataFrame, DataFrame) = {
    val counts = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    (counts, totals)
  }

  /** Score ANY corpus under a GIVEN unigram model — the shared core of
    * t13 (model trained on the scored corpus itself) and t21 (model
    * loaded from the saved artifact). Model joins are LEFT with
    * coalesce-to-0 counts, so a token the model never saw degrades to the
    * add-one floor −log2(1/(n+v)) instead of dropping — the same unseen
    * convention as [[interpolatedSurprisalAgainst]]; when model corpus ==
    * scored corpus (t13/t21) no token is unseen and the left join is
    * row-identical to an inner one.
    */
  private def scoreUnigram(docs: DataFrame, counts: DataFrame,
                           totals: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val scored = tf.join(counts, Seq("t"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tf"),
        (col("tf") * -log2((coalesce(col("c"), lit(0L)) + 1.0)
          / (col("n") + col("v")))).as("wbits"))
    docs.select(col("doc_id"))
      .join(scored.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          round(sum(col("wbits")) / sum(col("tf")), 4).as("bits_per_token")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        // zero-token docs: pin the empty mean to 0.0 in both engines
        coalesce(col("bits_per_token"), lit(0.0)).as("bits_per_token"))
      .orderBy(col("doc_id"))
  }

  /** A persisted t13 surprisal model: the unigram `counts` (t, c), the
    * one-row `totals` (n, v), and the one-row `band` (lo, hi) — the
    * corpus P25/P75 of bits_per_token under this model, i.e. p20's
    * middle-surprisal band edges FROZEN WITH the model that defines them.
    * This is the CCNet deployment shape: the LM and its keep thresholds
    * are trained offline on yesterday's corpus and applied unchanged to
    * today's stream — which is exactly what lets the streaming curation
    * gate (graft.streaming.CurationStream) apply the full p20 recipe
    * per-row instead of excluding the corpus-global band.
    */
  final case class SurprisalModel(counts: DataFrame, totals: DataFrame,
                                  band: DataFrame)

  /** Cap on the persisted model's vocabulary: top-K words BY COUNT. The
    * lookup table is bounded by construction (a TakeOrderedAndProject,
    * whatever the corpus's long tail looks like) — the CCNet/KenLM
    * convention of a truncated vocabulary, with everything below the cap
    * scoring through the SAME add-one unseen floor the scorer already
    * applies to genuinely novel words. The (N, V) totals stay FULL-corpus
    * statistics: the cap truncates the lookup table, not the model's
    * notion of how much text it saw. On the fixtures the vocabulary sits
    * far below the cap, so t21's byte-for-byte hash-match against t13
    * also proves the cap changes nothing until it has to.
    */
  val LmVocabTopK = 1000000

  /** Train the t13 model on `docs` and persist it under `dir`:
    * `dir/lm_unigram` (top-[[LmVocabTopK]] by count — bounded, parallel
    * write), `dir/lm_totals` and `dir/lm_band` (one row each). Parquet
    * longs and doubles are binary-exact, so scoring from the loaded
    * model is byte-identical to scoring in-lineage (t21 gates exactly
    * this against t13).
    */
  def trainAndSaveSurprisalModel(docs: DataFrame, dir: String,
                                 vocabTopK: Int = LmVocabTopK): SurprisalModel = {
    val (counts, totals) = unigramModel(docs)
    val capped = counts.orderBy(col("c").desc, col("t")).limit(vocabTopK)
    val band = scoreUnigram(docs, capped, totals)
      .agg(percentile(col("bits_per_token"), lit(0.25)).as("lo"),
        percentile(col("bits_per_token"), lit(0.75)).as("hi"))
    graft.sources.ModelStore.saveLarge(capped, s"$dir/lm_unigram")
    graft.sources.ModelStore.save(totals, s"$dir/lm_totals")
    graft.sources.ModelStore.save(band, s"$dir/lm_band")
    loadSurprisalModel(docs.sparkSession, dir)
  }

  def loadSurprisalModel(spark: org.apache.spark.sql.SparkSession,
                         dir: String): SurprisalModel =
    SurprisalModel(
      graft.sources.ModelStore.load(spark, s"$dir/lm_unigram"),
      graft.sources.ModelStore.load(spark, s"$dir/lm_totals"),
      graft.sources.ModelStore.load(spark, s"$dir/lm_band"))

  /** t21: score a corpus against the LOADED model — must hash-match t13
    * byte-for-byte when the model was trained on the same corpus (the
    * t14/d11/s9 train-once gate applied to the LM).
    */
  def unigramSurprisalFromSaved(docs: DataFrame, model: SurprisalModel): DataFrame =
    scoreUnigram(docs, model.counts, model.totals)

  /** Merge two trained surprisal models (t24) — the incremental LM
    * update: unigram counts are ADDITIVE, so yesterday's model plus a
    * new shard's model combine with one vocabulary-sized aggregation —
    * never a re-count of the old corpus. N sums exactly; V is the
    * merged table's row count (= |vocab(a) ∪ vocab(b)|, exact while
    * neither input hit its vocab cap — above the cap the merge-of-capped
    * is the standard streaming-vocabulary approximation, same add-one
    * floor below). The band edges are corpus percentiles of per-doc
    * scores, so they cannot merge from the inputs' edges; they are
    * re-derived by SCORING `bandCorpus` under the merged model — a
    * join-shaped linear pass, not a retrain. t24 gates the whole claim:
    * scoring from merge(train(old), train(shard)) must hash-match t13's
    * full-corpus train byte-for-byte.
    */
  /** COUNT-REVERSIBLE DELETION from a saved LM (the t24 merge, inverted
    * — the erasure leg an add-one unigram model admits that a trained
    * tokenizer does not): the deleted docs' own token counts subtract
    * from the model's counts at delete-list cost, zero-count words leave
    * the vocabulary, N subtracts the deleted token mass, V re-counts
    * from the pruned table, and the quality band re-derives by scoring
    * `bandCorpus` under the pruned model. Below the vocab cap this
    * EQUALS a fresh train over the survivors (integer count identity,
    * property-pinned); at cap the lookup table stays frozen (a
    * below-cap word the survivors would promote cannot re-enter — the
    * pruneLshIndex frozen-df convention).
    */
  def deleteFromSurprisalModel(m: SurprisalModel, deletedDocs: DataFrame,
                               bandCorpus: DataFrame): SurprisalModel = {
    val dc = deletedDocs.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("d"))
    val counts = m.counts.join(dc, Seq("t"), "left")
      .select(col("t"), (col("c") - coalesce(col("d"), lit(0L))).as("c"))
      .filter(col("c") > 0)
    val totals = m.totals.select(col("n").as("n0"))
      .crossJoin(broadcast(dc.agg(coalesce(sum(col("d")), lit(0L)).as("nd"))))
      .crossJoin(broadcast(counts.agg(count(lit(1)).as("v"))))
      .select((col("n0") - col("nd")).as("n"), col("v"))
    val band = scoreUnigram(bandCorpus, counts, totals)
      .agg(percentile(col("bits_per_token"), lit(0.25)).as("lo"),
        percentile(col("bits_per_token"), lit(0.75)).as("hi"))
    SurprisalModel(counts, totals, band)
  }

  def mergeSurprisalModels(a: SurprisalModel, b: SurprisalModel,
                           bandCorpus: DataFrame): SurprisalModel = {
    val counts = a.counts.unionByName(b.counts)
      .groupBy(col("t")).agg(sum(col("c")).as("c"))
    // N from the inputs' TOTALS (full-corpus statistics even under a
    // vocab cap — the t21 convention); V from the merged table
    val totals = a.totals.select(col("n").as("na"))
      .crossJoin(b.totals.select(col("n").as("nb")))
      .crossJoin(counts.agg(count(lit(1)).as("v")))
      .select((col("na") + col("nb")).as("n"), col("v"))
    val band = scoreUnigram(bandCorpus, counts, totals)
      .agg(percentile(col("bits_per_token"), lit(0.25)).as("lo"),
        percentile(col("bits_per_token"), lit(0.75)).as("hi"))
    SurprisalModel(counts, totals, band)
  }

  def sqlUnigramSurprisal: String = {
    val toks = Portable.sqlTokens("text")
    s"""WITH tk AS (SELECT doc_id, unnest($toks) AS t FROM documents),
       |tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM tk GROUP BY 1, 2),
       |counts AS (SELECT t, sum(tf)::BIGINT AS c FROM tf GROUP BY t),
       |totals AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM counts),
       |scored AS (SELECT tf.doc_id, tf.tf,
       |    tf.tf * -log2((counts.c + 1.0) / (totals.n + totals.v)) AS wbits
       |  FROM tf JOIN counts USING (t), totals),
       |per AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
       |    round(sum(wbits) / sum(tf), 4) AS bits_per_token
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(per.bits_per_token, 0.0) AS bits_per_token
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Per-source distribution-drift report (p23) — the monitoring table a
    * daily pipeline reads before trusting a new crawl: every document
    * scored under YESTERDAY'S saved model and under the current
    * full-corpus model, rolled up per source as mean bits/token plus the
    * drift (stale-model excess). A source whose content distribution
    * moved scores systematically higher under the stale model (its new
    * vocabulary keeps hitting the add-one floor); a near-zero drift
    * says the saved artifacts (LM gate bands, DSIR weights) are still
    * valid. The unigram form keeps the whole report oracle-exact while
    * exercising the real mechanism — KL(source ‖ model) estimated by the
    * model's cross-entropy.
    *
    * Scale shape: two scoring passes (each the t13 join skeleton —
    * vocabulary-keyed equi-joins, single-row totals broadcast) and one
    * per-source rollup; the old model arrives as the saved t24 artifact,
    * so nothing is retrained.
    */
  def surprisalDrift(docs: DataFrame, oldModel: SurprisalModel): DataFrame = {
    val o = unigramSurprisalFromSaved(docs, oldModel)
      .select(col("doc_id"), col("bits_per_token").as("bits_old"))
    val f = unigramSurprisal(docs)
      .select(col("doc_id"), col("bits_per_token").as("bits_full"))
    docs.select(col("doc_id"), col("source"))
      .join(o, "doc_id").join(f, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("bits_old")), 4).as("bits_old"),
        round(avg(col("bits_full")), 4).as("bits_full"),
        // + 0.0 normalizes IEEE -0.0 (a zero drift must hash as 0.0
        // in both engines)
        (round(avg(col("bits_old")) - avg(col("bits_full")), 4) + lit(0.0)).as("drift"))
      .orderBy(col("source"))
  }

  def sqlSurprisalDrift: String = {
    val toks = Portable.sqlTokens("text")
    s"""WITH cn AS (SELECT (count(*) * 4) // 5 AS cnt FROM documents),
       |tk AS (SELECT doc_id, unnest($toks) AS t FROM documents),
       |tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM tk GROUP BY 1, 2),
       |oc AS (SELECT t, sum(tf)::BIGINT AS c FROM tf
       |       WHERE doc_id < (SELECT cnt FROM cn) GROUP BY t),
       |ot AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM oc),
       |osc AS (SELECT tf.doc_id, tf.tf,
       |    tf.tf * -log2((coalesce(oc.c, 0) + 1.0) / (ot.n + ot.v)) AS wbits
       |  FROM tf LEFT JOIN oc USING (t), ot),
       |oper AS (SELECT doc_id, round(sum(wbits) / sum(tf), 4) AS bits_old
       |  FROM osc GROUP BY doc_id),
       |fc AS (SELECT t, sum(tf)::BIGINT AS c FROM tf GROUP BY t),
       |ft AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM fc),
       |fsc AS (SELECT tf.doc_id, tf.tf,
       |    tf.tf * -log2((fc.c + 1.0) / (ft.n + ft.v)) AS wbits
       |  FROM tf JOIN fc USING (t), ft),
       |fper AS (SELECT doc_id, round(sum(wbits) / sum(tf), 4) AS bits_full
       |  FROM fsc GROUP BY doc_id)
       |SELECT d.source, count(*)::BIGINT AS n_docs,
       |  round(avg(coalesce(oper.bits_old, 0.0)), 4) AS bits_old,
       |  round(avg(coalesce(fper.bits_full, 0.0)), 4) AS bits_full,
       |  round(avg(coalesce(oper.bits_old, 0.0))
       |    - avg(coalesce(fper.bits_full, 0.0)), 4) + 0.0 AS drift
       |FROM documents d
       |LEFT JOIN oper ON oper.doc_id = d.doc_id
       |LEFT JOIN fper ON fper.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** Bigram-LM surprisal per document (t19) — one Markov order up from
    * [[unigramSurprisal]], a step closer to the KenLM 5-gram filter CCNet
    * actually ships: score each document by its mean conditional
    * surprisal −log2 P(w_i | w_{i−1}) under an add-one-smoothed bigram
    * model trained on the corpus (P = (c(w_{i−1}w_i)+1)/(c(w_{i−1})+V)).
    * The unigram model can't see scrambled word order; this one charges
    * for improbable TRANSITIONS — the difference between fluent
    * boilerplate and shuffled tokens.
    *
    * Modeling note (deliberate): the smoothing denominator is the
    * corpus-wide unigram OCCURRENCE count c(w_{i−1}) — which includes
    * document-final occurrences that start no bigram — not the sum of
    * bigram counts with that predecessor, so P(·|pre) sums to slightly
    * under 1 (a mildly over-normalized conditional). This is the cheap
    * standard form (one unigram table, no second bigram rollup); as a
    * RANKING score for the quality filter the monotonicity is identical,
    * and Spark and the oracle implement the same formula so cross-engine
    * parity is exact. t20's interpolated model reuses the same
    * convention for both orders.
    *
    * Scale shape (the t13 skeleton, one model order up): per-doc bigram
    * TERM FREQUENCIES map-side combine before any exchange; the model
    * tables (distinct bigrams, distinct unigrams) are corpus-vocabulary
    * sized, joined on their own keys; the vocab size V is a broadcast
    * single-row aggregate. Two corpus passes (unigram model, bigram
    * stream), nothing corpus-sized broadcast.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val uni = tk.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val vtot = uni.agg(count(lit(1)).as("v"))
    val bg = tk.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(
          concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)).as("g"),
          element_at(col("w"), i).as("pre")))).as("b"))
      .select(col("doc_id"), col("b.g").as("g"), col("b.pre").as("pre"))
    val tf = bg.groupBy(col("doc_id"), col("g"), col("pre")).agg(count(lit(1)).as("tf"))
    val bc = tf.groupBy(col("g")).agg(sum(col("tf")).as("cg"))
    val scored = tf.join(bc, "g")
      .join(uni, col("pre") === col("t"))
      .crossJoin(broadcast(vtot))
      .select(col("doc_id"), col("tf"),
        (col("tf") * -log2((col("cg") + 1.0) / (col("cu") + col("v")))).as("wbits"))
    docs.select(col("doc_id"))
      .join(scored.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          round(sum(col("wbits")) / sum(col("tf")), 4).as("bits_per_bigram")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // sub-2-token docs: pin the empty mean to 0.0 in both engines
        coalesce(col("bits_per_bigram"), lit(0.0)).as("bits_per_bigram"))
      .orderBy(col("doc_id"))
  }

  def sqlBigramSurprisal: String = {
    val toks = Portable.sqlTokens("text")
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents),
       |uni AS (SELECT t, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(w) AS t FROM tk) GROUP BY t),
       |vtot AS (SELECT count(*)::BIGINT AS v FROM uni),
       |bg AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS g, w[i] AS pre
       |  FROM tk, LATERAL unnest(range(1, len(w))) t(i)),
       |tf AS (SELECT doc_id, g, pre, count(*)::BIGINT AS tf FROM bg GROUP BY 1, 2, 3),
       |bc AS (SELECT g, sum(tf)::BIGINT AS cg FROM tf GROUP BY g),
       |scored AS (SELECT tf.doc_id, tf.tf,
       |    tf.tf * -log2((bc.cg + 1.0) / (uni.cu + vtot.v)) AS wbits
       |  FROM tf JOIN bc USING (g) JOIN uni ON uni.t = tf.pre, vtot),
       |per AS (SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       |    round(sum(wbits) / sum(tf), 4) AS bits_per_bigram
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
       |  coalesce(per.bits_per_bigram, 0.0) AS bits_per_bigram
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Interpolation weight for [[interpolatedSurprisal]] (t20): the mass on
    * the bigram channel; 1 − λ backs off to the unigram channel. Fixed so
    * the model is exactly reproducible cross-engine.
    */
  val InterpLambda = 0.75

  /** Interpolated bigram→unigram surprisal (t20) — the Jelinek-Mercer
    * step between t19's raw bigram model and the CCNet KenLM filter:
    * P(w|pre) = λ·P_bi(w|pre) + (1−λ)·P_uni(w), both channels add-one
    * smoothed as in t13/t19. The point of the backoff: a bigram the model
    * never saw no longer floors at the flat add-one penalty
    * 1/(c(pre)+V) — the unigram channel keeps a COMMON word cheap in any
    * context and only genuinely rare words expensive, which is what
    * separates "unusual phrasing of normal text" from noise.
    *
    * Trained on the scored corpus itself (the t13/t19 convention);
    * [[interpolatedSurprisalAgainst]] is the general form where the model
    * corpus and the scored corpus differ — that's where unseen bigrams
    * actually occur, and the unit spec pins the backoff there.
    */
  def interpolatedSurprisal(docs: DataFrame): DataFrame =
    interpolatedSurprisalAgainst(docs, docs)

  /** Score `docs` under an interpolated model trained on `model` — the
    * train-here/score-there form (new shards scored against yesterday's
    * corpus model). All model joins are LEFT with coalesce-to-0 counts so
    * unseen bigrams, predecessors and words degrade smoothly through the
    * add-one floor instead of dropping rows.
    *
    * Scale shape: identical to t19 — per-doc bigram TERM FREQUENCIES
    * map-side combine before any exchange, the model tables (distinct
    * bigrams, distinct unigrams) join on their own keys, and the two
    * scalars (N, V) are one broadcast single-row aggregate. The unigram
    * table joins twice (predecessor count for the bigram denominator,
    * successor count for the backoff channel) — both are
    * vocabulary-keyed equi-joins, nothing corpus-sized broadcast. The
    * smoothing denominator keeps t19's documented convention (corpus-wide
    * unigram occurrence count).
    */
  def interpolatedSurprisalAgainst(model: DataFrame, docs: DataFrame): DataFrame = {
    val mtk = model.select(tokens(col("text")).as("w"))
    val uni = mtk.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val totals = uni.agg(sum(col("cu")).as("n"), count(lit(1)).as("v"))
    val bc = mtk.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cg"))
    val bg = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(
          concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)).as("g"),
          element_at(col("w"), i).as("pre"),
          element_at(col("w"), i + 1).as("nxt")))).as("b"))
      .select(col("doc_id"), col("b.g").as("g"), col("b.pre").as("pre"), col("b.nxt").as("nxt"))
    val tf = bg.groupBy(col("doc_id"), col("g"), col("pre"), col("nxt"))
      .agg(count(lit(1)).as("tf"))
    val lam = lit(InterpLambda)
    val om = lit(1 - InterpLambda)
    val pBi = (coalesce(col("cg"), lit(0L)) + 1.0) / (coalesce(col("cpre"), lit(0L)) + col("v"))
    val pUni = (coalesce(col("cnxt"), lit(0L)) + 1.0) / (col("n") + col("v"))
    val scored = tf
      .join(bc, Seq("g"), "left")
      .join(uni.select(col("t"), col("cu").as("cpre")), col("pre") === col("t"), "left")
      .drop("t")
      .join(uni.select(col("t"), col("cu").as("cnxt")), col("nxt") === col("t"), "left")
      .drop("t")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tf"),
        (col("tf") * -log2(lam * pBi + om * pUni)).as("wbits"))
    docs.select(col("doc_id"))
      .join(scored.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          round(sum(col("wbits")) / sum(col("tf")), 4).as("bits_interp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // sub-2-token docs: pin the empty mean to 0.0 in both engines
        coalesce(col("bits_interp"), lit(0.0)).as("bits_interp"))
      .orderBy(col("doc_id"))
  }

  def sqlInterpolatedSurprisal: String = {
    val toks = Portable.sqlTokens("text")
    val lam = InterpLambda
    val om = 1 - InterpLambda
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents),
       |uni AS (SELECT t, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(w) AS t FROM tk) GROUP BY t),
       |totals AS (SELECT sum(cu)::BIGINT AS n, count(*)::BIGINT AS v FROM uni),
       |bgm AS (SELECT w[i] || ' ' || w[i + 1] AS g
       |  FROM tk, LATERAL unnest(range(1, len(w))) t(i)),
       |bc AS (SELECT g, count(*)::BIGINT AS cg FROM bgm GROUP BY g),
       |bg AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS g, w[i] AS pre, w[i + 1] AS nxt
       |  FROM tk, LATERAL unnest(range(1, len(w))) t(i)),
       |tf AS (SELECT doc_id, g, pre, nxt, count(*)::BIGINT AS tf FROM bg GROUP BY 1, 2, 3, 4),
       |scored AS (SELECT tf.doc_id, tf.tf,
       |    tf.tf * -log2($lam * ((coalesce(bc.cg, 0) + 1.0) / (coalesce(up.cu, 0) + totals.v))
       |                + $om * ((coalesce(un.cu, 0) + 1.0) / (totals.n + totals.v))) AS wbits
       |  FROM tf LEFT JOIN bc USING (g)
       |  LEFT JOIN uni up ON up.t = tf.pre
       |  LEFT JOIN uni un ON un.t = tf.nxt, totals),
       |per AS (SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       |    round(sum(wbits) / sum(tf), 4) AS bits_interp
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
       |  coalesce(per.bits_interp, 0.0) AS bits_interp
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Backoff discount for [[stupidBackoffSurprisal]] (t22): the fixed α
    * of Brants et al. 2007 ("Large Language Models in Machine
    * Translation") — their recommended 0.4. Fixed so the score is exactly
    * reproducible cross-engine.
    */
  val SbAlpha = 0.4

  /** Stupid-Backoff trigram surprisal (t22) — the next KenLM step after
    * t20's Jelinek-Mercer bigram: score each document by the mean
    * −log2 S(w3 | w1 w2) where S is Brants et al.'s Stupid Backoff:
    * S = c(w1w2w3)/c(w1w2) when the trigram is attested, else
    * α·c(w2w3)/c(w2) when the bigram is, else α²·(c(w3)+1)/(N+V).
    * S is a SCORE, not a normalized probability — that's the trade that
    * makes it trainable and serveable with nothing but count tables
    * (Brants et al. showed it matches Kneser-Ney at web scale), which is
    * exactly what a distributed, oracle-checkable engine wants. The
    * unigram base keeps t13's add-one floor so an out-of-vocabulary word
    * scores finite bits instead of −log2(0).
    *
    * Trained on the scored corpus itself (every trigram attested — the
    * backoff is exercised by [[stupidBackoffAgainst]], where model and
    * scored corpus differ; the unit spec pins the chain
    * trigram→bigram→unigram there).
    */
  def stupidBackoffSurprisal(docs: DataFrame): DataFrame =
    stupidBackoffAgainst(docs, docs)

  /** Score `docs` under Stupid-Backoff count tables trained on `model` —
    * the train-here/score-there form. All model joins are LEFT with
    * coalesce-to-0 counts; the CASE chain picks the highest-order
    * attested channel. c(tri)>0 implies c(prefix bigram)>0 and
    * c(bigram)>0 implies c(middle word)>0 in the SAME model, so no
    * attested channel ever divides by zero.
    *
    * Scale shape (the t19/t20 skeleton, one order up): per-doc trigram
    * TERM FREQUENCIES map-side combine before any exchange; the three
    * count tables (distinct trigrams, bigrams, unigrams) are
    * model-vocabulary sized and join on their own keys; (N, V) is one
    * broadcast single-row aggregate. Nothing corpus-sized broadcast.
    */
  def stupidBackoffAgainst(model: DataFrame, docs: DataFrame): DataFrame = {
    val mtk = model.select(tokens(col("text")).as("w"))
    val uni = mtk.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val totals = uni.agg(sum(col("cu")).as("n"), count(lit(1)).as("v"))
    val big = mtk.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cb"))
    val tri = mtk.filter(size(col("w")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1),
          element_at(col("w"), i + 2)))).as("g3"))
      .groupBy(col("g3")).agg(count(lit(1)).as("ct"))
    val tg = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w")) - 2),
        i => struct(
          concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1),
            element_at(col("w"), i + 2)).as("g3"),
          concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)).as("g12"),
          concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2)).as("g23"),
          element_at(col("w"), i + 1).as("w2"),
          element_at(col("w"), i + 2).as("w3")))).as("b"))
      .select(col("doc_id"), col("b.g3").as("g3"), col("b.g12").as("g12"),
        col("b.g23").as("g23"), col("b.w2").as("w2"), col("b.w3").as("w3"))
    val tf = tg.groupBy(col("doc_id"), col("g3"), col("g12"), col("g23"),
      col("w2"), col("w3")).agg(count(lit(1)).as("tf"))
    val ct = coalesce(col("ct"), lit(0L))
    val c12 = coalesce(col("c12"), lit(0L))
    val c23 = coalesce(col("c23"), lit(0L))
    val cu2 = coalesce(col("cu2"), lit(0L))
    val cu3 = coalesce(col("cu3"), lit(0L))
    val s = when(ct > 0, ct.cast("double") / c12)
      .otherwise(lit(SbAlpha) * when(c23 > 0, c23.cast("double") / cu2)
        .otherwise(lit(SbAlpha) * (cu3 + 1.0) / (col("n") + col("v"))))
    val scored = tf
      .join(tri, Seq("g3"), "left")
      .join(big.select(col("g").as("g12"), col("cb").as("c12")), Seq("g12"), "left")
      .join(big.select(col("g").as("g23"), col("cb").as("c23")), Seq("g23"), "left")
      .join(uni.select(col("t").as("w2"), col("cu").as("cu2")), Seq("w2"), "left")
      .join(uni.select(col("t").as("w3"), col("cu").as("cu3")), Seq("w3"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tf"), (col("tf") * -log2(s)).as("wbits"))
    docs.select(col("doc_id"))
      .join(scored.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_trigrams"),
          round(sum(col("wbits")) / sum(col("tf")), 4).as("bits_sb")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        // sub-3-token docs: pin the empty mean to 0.0 in both engines
        coalesce(col("bits_sb"), lit(0.0)).as("bits_sb"))
      .orderBy(col("doc_id"))
  }

  /** Absolute discount for [[knSurprisal]] (t23): Kneser-Ney's D, fixed
    * at the standard 0.75 so the model is exactly reproducible
    * cross-engine (estimating D from n1/(n1+2n2) would work but adds a
    * corpus-dependent constant for no oracle benefit).
    */
  val KnDiscount = 0.75

  /** Interpolated Kneser-Ney bigram surprisal (t23) — the canonical
    * n-gram smoother (Kneser & Ney 1995; Chen & Goodman 1999), the
    * model KenLM itself ships: score each document by the mean
    * −log2 P_KN(w | pre) where
    *
    *   P_KN(w|pre) = max(c(pre w) − D, 0)/c(pre)
    *               + (D · N1+(pre,·)/c(pre)) · P_cont(w)
    *   P_cont(w)   = (N1+(·,w) + 1) / (B + V)
    *
    * with N1+(pre,·) the number of DISTINCT bigram types starting with
    * pre, N1+(·,w) the distinct types ending in w, and B the total
    * distinct-bigram count. The Kneser-Ney insight over t20's
    * Jelinek-Mercer: the backoff channel is the CONTINUATION count, not
    * the raw unigram count — "francisco" is frequent but follows almost
    * nothing except "san", so its backoff mass is tiny and a stray
    * "the francisco" is charged properly, where t20's unigram channel
    * would let it off cheap. P_cont keeps the house add-one floor so an
    * out-of-vocabulary word scores finite bits; a history with no
    * attested continuations (unseen, or seen only document-finally)
    * backs off fully to P_cont. The smoothing denominator keeps t19's
    * documented convention (corpus-wide unigram OCCURRENCE count).
    *
    * Trained on the scored corpus itself (the t13–t22 convention);
    * [[knAgainst]] is the train-here/score-there form where the backoff
    * is actually exercised — the unit spec pins the continuation-count
    * behavior there.
    */
  def knSurprisal(docs: DataFrame): DataFrame =
    knAgainst(docs, docs)

  /** Score `docs` under Kneser-Ney count tables trained on `model`.
    *
    * Scale shape (the t19/t20 skeleton plus two fertility tables): the
    * model is four vocabulary-sized tables — unigram counts, bigram
    * counts keyed (pre, nxt), per-predecessor type counts N1+(pre,·),
    * per-successor type counts N1+(·,w) — each joined on its own key;
    * (N, V, B) is one broadcast single-row aggregate. Per-doc bigram
    * term frequencies map-side combine before any exchange; nothing
    * corpus-sized is ever broadcast.
    */
  def knAgainst(model: DataFrame, docs: DataFrame): DataFrame = {
    val mtk = model.select(tokens(col("text")).as("w"))
    val uni = mtk.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val bcf = mtk.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("pre"),
          element_at(col("w"), i + 1).as("nxt")))).as("b"))
      .select(col("b.pre").as("pre"), col("b.nxt").as("nxt"))
      .groupBy(col("pre"), col("nxt")).agg(count(lit(1)).as("cg"))
    val fpre = bcf.groupBy(col("pre")).agg(count(lit(1)).as("n1f"))
    val fnxt = bcf.groupBy(col("nxt")).agg(count(lit(1)).as("n1b"))
    val totals = uni.agg(sum(col("cu")).as("n"), count(lit(1)).as("v"))
      .crossJoin(bcf.agg(count(lit(1)).as("btot")))
    val bg = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("pre"),
          element_at(col("w"), i + 1).as("nxt")))).as("b"))
      .select(col("doc_id"), col("b.pre").as("pre"), col("b.nxt").as("nxt"))
    val tf = bg.groupBy(col("doc_id"), col("pre"), col("nxt"))
      .agg(count(lit(1)).as("tf"))
    val d = lit(KnDiscount)
    val cg0 = coalesce(col("cg"), lit(0L))
    val cpre0 = coalesce(col("cpre"), lit(0L))
    val n1f0 = coalesce(col("n1f"), lit(0L))
    val n1b0 = coalesce(col("n1b"), lit(0L))
    val pCont = (n1b0 + 1.0) / (col("btot") + col("v"))
    val p = when(cpre0 > 0 && n1f0 > 0,
        greatest(cg0 - d, lit(0.0)) / cpre0 + d * n1f0 / cpre0 * pCont)
      .otherwise(pCont)
    val scored = tf
      .join(bcf, Seq("pre", "nxt"), "left")
      .join(uni.select(col("t"), col("cu").as("cpre")), col("pre") === col("t"), "left")
      .drop("t")
      .join(fpre.select(col("pre"), col("n1f")), Seq("pre"), "left")
      .join(fnxt.select(col("nxt"), col("n1b")), Seq("nxt"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("tf"), (col("tf") * -log2(p)).as("wbits"))
    docs.select(col("doc_id"))
      .join(scored.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          round(sum(col("wbits")) / sum(col("tf")), 4).as("bits_kn")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // sub-2-token docs: pin the empty mean to 0.0 in both engines
        coalesce(col("bits_kn"), lit(0.0)).as("bits_kn"))
      .orderBy(col("doc_id"))
  }

  def sqlKnSurprisal: String = {
    val toks = Portable.sqlTokens("text")
    val d = KnDiscount
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents),
       |uni AS (SELECT t, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(w) AS t FROM tk) GROUP BY t),
       |bcf AS (SELECT pre, nxt, count(*)::BIGINT AS cg FROM (
       |  SELECT w[i] AS pre, w[i + 1] AS nxt
       |  FROM tk, LATERAL unnest(range(1, len(w))) t(i)) GROUP BY 1, 2),
       |fpre AS (SELECT pre, count(*)::BIGINT AS n1f FROM bcf GROUP BY pre),
       |fnxt AS (SELECT nxt, count(*)::BIGINT AS n1b FROM bcf GROUP BY nxt),
       |totals AS (SELECT (SELECT sum(cu) FROM uni)::BIGINT AS n,
       |  (SELECT count(*) FROM uni)::BIGINT AS v,
       |  (SELECT count(*) FROM bcf)::BIGINT AS btot),
       |bg AS (SELECT doc_id, w[i] AS pre, w[i + 1] AS nxt
       |  FROM tk, LATERAL unnest(range(1, len(w))) t(i)),
       |tf AS (SELECT doc_id, pre, nxt, count(*)::BIGINT AS tf FROM bg GROUP BY 1, 2, 3),
       |scored AS (SELECT tf.doc_id, tf.tf,
       |    tf.tf * -log2(CASE
       |      WHEN coalesce(up.cu, 0) > 0 AND coalesce(fpre.n1f, 0) > 0
       |      THEN greatest(coalesce(bcf.cg, 0) - $d, 0.0) / up.cu
       |         + $d * fpre.n1f / up.cu
       |           * ((coalesce(fnxt.n1b, 0) + 1.0) / (totals.btot + totals.v))
       |      ELSE (coalesce(fnxt.n1b, 0) + 1.0) / (totals.btot + totals.v)
       |      END) AS wbits
       |  FROM tf LEFT JOIN bcf ON bcf.pre = tf.pre AND bcf.nxt = tf.nxt
       |  LEFT JOIN uni up ON up.t = tf.pre
       |  LEFT JOIN fpre ON fpre.pre = tf.pre
       |  LEFT JOIN fnxt ON fnxt.nxt = tf.nxt, totals),
       |per AS (SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       |    round(sum(wbits) / sum(tf), 4) AS bits_kn
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
       |  coalesce(per.bits_kn, 0.0) AS bits_kn
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def sqlStupidBackoffSurprisal: String = {
    val toks = Portable.sqlTokens("text")
    val a = SbAlpha
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents),
       |uni AS (SELECT t, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(w) AS t FROM tk) GROUP BY t),
       |totals AS (SELECT sum(cu)::BIGINT AS n, count(*)::BIGINT AS v FROM uni),
       |big AS (SELECT g, count(*)::BIGINT AS cb FROM (
       |  SELECT w[i] || ' ' || w[i + 1] AS g
       |  FROM tk, LATERAL unnest(range(1, len(w))) t(i)) GROUP BY g),
       |tri AS (SELECT g3, count(*)::BIGINT AS ct FROM (
       |  SELECT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g3
       |  FROM tk, LATERAL unnest(range(1, len(w) - 1)) t(i)) GROUP BY g3),
       |tg AS (SELECT doc_id,
       |    w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g3,
       |    w[i] || ' ' || w[i + 1] AS g12,
       |    w[i + 1] || ' ' || w[i + 2] AS g23,
       |    w[i + 1] AS w2, w[i + 2] AS w3
       |  FROM tk, LATERAL unnest(range(1, len(w) - 1)) t(i)),
       |tf AS (SELECT doc_id, g3, g12, g23, w2, w3, count(*)::BIGINT AS tf
       |  FROM tg GROUP BY 1, 2, 3, 4, 5, 6),
       |scored AS (SELECT tf.doc_id, tf.tf,
       |    tf.tf * -log2(CASE WHEN coalesce(tri.ct, 0) > 0
       |        THEN coalesce(tri.ct, 0)::DOUBLE / b12.cb
       |        ELSE $a * (CASE WHEN coalesce(b23.cb, 0) > 0
       |          THEN coalesce(b23.cb, 0)::DOUBLE / u2.cu
       |          ELSE $a * (coalesce(u3.cu, 0) + 1.0) / (totals.n + totals.v) END)
       |        END) AS wbits
       |  FROM tf LEFT JOIN tri USING (g3)
       |  LEFT JOIN big b12 ON b12.g = tf.g12
       |  LEFT JOIN big b23 ON b23.g = tf.g23
       |  LEFT JOIN uni u2 ON u2.t = tf.w2
       |  LEFT JOIN uni u3 ON u3.t = tf.w3, totals),
       |per AS (SELECT doc_id, sum(tf)::BIGINT AS n_trigrams,
       |    round(sum(wbits) / sum(tf), 4) AS bits_sb
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(per.n_trigrams, 0)::BIGINT AS n_trigrams,
       |  coalesce(per.bits_sb, 0.0) AS bits_sb
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Document fingerprints: md5 of normalized text (exact-dup key) plus a
    * position-weighted rolling token-hash mod P (order-sensitive content
    * fingerprint, robust to the oracle: pure integer arithmetic).
    */
  def fingerprint(df: DataFrame, textCol: Column): DataFrame = {
    val toks = tokens(textCol)
    val weighted = aggregate(
      zip_with(toks, sequence(lit(1), size(toks)),
        (t, i) => Portable.hash32(t) * i.cast("long")),
      lit(0L), (acc, x) => acc + x)
    df.select(
      col("doc_id"),
      md5(lower(trim(textCol))).as("md5_norm"),
      (weighted % lit(Portable.P)).as("roll_fp"))
  }

  def sqlFingerprint: String = {
    val toks = Portable.sqlTokens("text")
    val h = Portable.sqlHash32("w[i]")
    s"""SELECT doc_id, md5(lower(trim(text))) AS md5_norm,
       |  (sum($h * i::BIGINT))::BIGINT % ${Portable.P} AS roll_fp
       |FROM (SELECT doc_id, text, $toks AS w FROM documents),
       |  LATERAL unnest(range(1, len(w) + 1)) t(i)
       |GROUP BY doc_id, text
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- Gopher rule battery

  /** Gopher/MassiveText-style per-document quality RULES (Rae et al. 2021,
    * table A1) — the rule battery a crawl passes through before any learned
    * scoring: hard bounds on document shape, each rule reported as its own
    * boolean so a pipeline can audit WHICH rule rejected a document (the
    * per-rule rejection histogram is the first thing one reads when a
    * source's yield drops). Bounds follow the paper where the signal
    * exists in any corpus (word count 50..100k, mean word length 3..10,
    * >=80% alphabetic words, >=2 stopwords); the repetition rule is the
    * unigram form of the paper's top-n-gram-fraction family (most frequent
    * token <= 10% of the document).
    */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinWordLen = 3.0
  val GopherMaxWordLen = 10.0
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopHits = 2L
  val GopherMaxTopTokFrac = 0.1

  /** The battery as one narrow projection — every metric is a pure
    * expression over the doc's own token array (materialized ONCE per
    * row), so the pass is embarrassingly parallel with no shuffle at all:
    * the 100 TB shape is "scan, project, write". The top-token fraction is
    * O(distinct x tokens) per row — bounded by document length, never by
    * corpus size.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val w = col("w")
    val n = size(w).cast("double")
    val mwl = when(n === 0, lit(0.0)).otherwise(round(
      aggregate(w, lit(0L), (a, x) => a + length(x)).cast("double") / n, 4))
    val alpha = when(n === 0, lit(0.0)).otherwise(round(
      size(filter(w, x => x.rlike("[a-z]"))).cast("double") / n, 4))
    val top = when(n === 0, lit(0.0)).otherwise(round(
      array_max(transform(array_distinct(w), x =>
        size(filter(w, y => y === x)))).cast("double") / n, 4))
    val stops = size(filter(w, t =>
      Stopwords.map(s => t === lit(s)).reduce(_ || _))).cast("bigint")
    val ruled = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(w).cast("bigint").as("n_tokens"),
        mwl.as("mean_word_len"),
        alpha.as("alpha_frac"),
        top.as("top_tok_frac"),
        stops.as("stop_hits"))
      .withColumn("n_ok",
        col("n_tokens") >= GopherMinWords && col("n_tokens") <= GopherMaxWords)
      .withColumn("wordlen_ok",
        col("mean_word_len") >= GopherMinWordLen && col("mean_word_len") <= GopherMaxWordLen)
      .withColumn("alpha_ok", col("alpha_frac") >= GopherMinAlphaFrac)
      .withColumn("stop_ok", col("stop_hits") >= GopherMinStopHits)
      .withColumn("rep_ok", col("top_tok_frac") <= GopherMaxTopTokFrac)
      .withColumn("pass",
        col("n_ok") && col("wordlen_ok") && col("alpha_ok") &&
          col("stop_ok") && col("rep_ok"))
    // presentation sort is a batch concept; the battery itself is pure
    // per-row expressions and applies to a streaming micro-batch unchanged
    if (docs.isStreaming) ruled else ruled.orderBy(col("doc_id"))
  }

  /** The per-rule rejection histogram over [[gopherRules]] (p30) — the
    * FIRST table one reads when a source's yield drops: how many documents
    * each rule rejects (independently — a doc failing two rules counts in
    * both), plus the overall pass count. One partial-aggregated pass to a
    * single row; at 100 TB this is the nightly monitoring number, not a
    * per-doc table.
    */
  def gopherHistogram(docs: DataFrame): DataFrame =
    gopherRules(docs).agg(
      count(lit(1)).as("n_docs"),
      sum(when(!col("n_ok"), 1L).otherwise(0L)).as("fail_n"),
      sum(when(!col("wordlen_ok"), 1L).otherwise(0L)).as("fail_wordlen"),
      sum(when(!col("alpha_ok"), 1L).otherwise(0L)).as("fail_alpha"),
      sum(when(!col("stop_ok"), 1L).otherwise(0L)).as("fail_stop"),
      sum(when(!col("rep_ok"), 1L).otherwise(0L)).as("fail_rep"),
      sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))

  def sqlGopherHistogram: String = {
    val rules = Portable.sqlNoOrder(sqlGopherRules)
    s"""WITH g AS ($rules)
       |SELECT count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN NOT n_ok THEN 1 ELSE 0 END)::BIGINT AS fail_n,
       |  sum(CASE WHEN NOT wordlen_ok THEN 1 ELSE 0 END)::BIGINT AS fail_wordlen,
       |  sum(CASE WHEN NOT alpha_ok THEN 1 ELSE 0 END)::BIGINT AS fail_alpha,
       |  sum(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END)::BIGINT AS fail_stop,
       |  sum(CASE WHEN NOT rep_ok THEN 1 ELSE 0 END)::BIGINT AS fail_rep,
       |  sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT AS n_pass
       |FROM g""".stripMargin
  }

  def sqlGopherRules: String = {
    val toks = Portable.sqlTokens("text")
    val ors = Stopwords.map(s => s"x = '$s'").mkString(" OR ")
    s"""WITH t AS (SELECT doc_id, $toks AS w FROM documents),
       |m AS (SELECT doc_id,
       |  len(w)::BIGINT AS n_tokens,
       |  CASE WHEN len(w) = 0 THEN 0.0 ELSE round(list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w), 4) END AS mean_word_len,
       |  CASE WHEN len(w) = 0 THEN 0.0 ELSE round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(w), 4) END AS alpha_frac,
       |  CASE WHEN len(w) = 0 THEN 0.0 ELSE round(list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x))))::DOUBLE / len(w), 4) END AS top_tok_frac,
       |  len(list_filter(w, x -> $ors))::BIGINT AS stop_hits
       |  FROM t)
       |SELECT doc_id, n_tokens, mean_word_len, alpha_frac, top_tok_frac, stop_hits,
       |  n_tokens >= $GopherMinWords AND n_tokens <= $GopherMaxWords AS n_ok,
       |  mean_word_len >= $GopherMinWordLen AND mean_word_len <= $GopherMaxWordLen AS wordlen_ok,
       |  alpha_frac >= $GopherMinAlphaFrac AS alpha_ok,
       |  stop_hits >= $GopherMinStopHits AS stop_ok,
       |  top_tok_frac <= $GopherMaxTopTokFrac AS rep_ok,
       |  (n_tokens >= $GopherMinWords AND n_tokens <= $GopherMaxWords)
       |    AND (mean_word_len >= $GopherMinWordLen AND mean_word_len <= $GopherMaxWordLen)
       |    AND alpha_frac >= $GopherMinAlphaFrac
       |    AND stop_hits >= $GopherMinStopHits
       |    AND top_tok_frac <= $GopherMaxTopTokFrac AS pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- character entropy (t26)

  /** Per-document character-level Shannon entropy (t26) — the cheap
    * garbage detector upstream of every learned filter: binary blobs
    * mislabeled as text score HIGH (near-uniform bytes), stuck-key runs
    * and template spam score LOW (a few dominant characters); natural
    * language sits in a recognizable band (~3–4.5 bits/char). One narrow
    * shuffle-free projection, entropy as a fold over the doc's own sorted
    * distinct characters — O(distinct x length) per row, bounded by the
    * alphabet, never the corpus.
    *
    * Determinism: the fold visits distinct characters in SORTED order in
    * both engines, so the floating-point summation order is identical;
    * `0.0 - P` (not `-P`) keeps the all-one-character edge at +0.0 in
    * both (negating the exact zero P would yield -0.0).
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val cs = col("cs")
    val n = size(cs).cast("double")
    val p = (c: Column) => size(filter(cs, x => x === c)).cast("double") / n
    val sumPlogP = aggregate(array_sort(array_distinct(cs)), lit(0.0),
      (acc, c) => acc + p(c) * log2(p(c)))
    docs.select(col("doc_id"), split(lower(trim(col("text"))), "").as("cs"))
      .select(col("doc_id"),
        when(n === 0, lit(0.0))
          .otherwise(round(lit(0.0) - sumPlogP, 4)).as("entropy"))
      .orderBy(col("doc_id"))
  }

  def sqlCharEntropy: String = {
    val p = "(len(list_filter(cs, x -> x = c))::DOUBLE / len(cs))"
    s"""WITH t AS (SELECT doc_id, string_split(lower(trim(text)), '') AS cs
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN len(cs) = 0 THEN 0.0 ELSE
       |    round(0.0 - list_reduce(
       |      list_prepend(0.0, list_transform(list_sort(list_distinct(cs)),
       |        c -> $p * log2($p))),
       |      (a, b) -> a + b), 4) END AS entropy
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------- hashed feature vectors

  /** Bucket count for the hashing-trick feature space. Small here so the
    * fixture output is readable; the operator's cost is independent of it
    * (the aggregate key is (doc_id, bucket) — output rows per doc are
    * min(buckets, distinct tokens)).
    */
  val HashFeatBuckets = 32L

  /** Signed hashed bag-of-words features (the hashing trick — Weinberger
    * et al. 2009; the fastText / Vowpal-Wabbit input representation): each
    * token hashes to one of [[HashFeatBuckets]] buckets with a +/-1 sign
    * drawn from an independent hash bit, and the document's feature vector
    * is the per-bucket signed count. This is the FIXED-dimensional,
    * vocabulary-free feature path for classifiers at corpus scale — no
    * vocabulary table to build, broadcast, or keep consistent across
    * shards (the t5 TF-IDF route needs all three); a new shard featurizes
    * with zero corpus-side state.
    *
    * Shape: explode -> hash -> partial-aggregated sum on (doc_id, bucket).
    * The single shuffle is the per-doc aggregate, map-side combined; sign
    * bit 5 is independent of the bucket (bits 0..4) by construction.
    */
  /** N-gram orders for [[repetitionCoverage]] (t27): the top-n-gram char
    * fraction uses bigrams, the duplicate-n-gram coverage uses 5-grams —
    * the two ends of Rae et al. 2021 table A1's repetition block (their
    * n = 2..4 "top" family and n = 5..10 "duplicate" family, one
    * representative each; the other orders are the same plan with a
    * different literal).
    */
  val CovTopN = 2
  val CovDupN = 5

  /** Gopher repetition-coverage metrics (t27) — the CHARACTER-fraction
    * repetition rules of Rae et al. 2021 that t8's distinct/total ratio
    * can't express:
    *  - `top2_frac`: fraction of the doc's token characters COVERED by
    *    occurrences of its single most frequent bigram (count desc, gram
    *    asc tie-break) — a doc dominated by one repeated phrase scores
    *    high even when its OTHER n-grams are all distinct;
    *  - `dup5_frac`: fraction of token characters covered by at least one
    *    5-gram that occurs more than once IN THE SAME DOC — the d12 span
    *    idea turned inward.
    * BOTH are positional-union coverage: each character counts once
    * however many qualifying gram occurrences span it, so both columns
    * are true fractions in [0, 1] (the naive count×len(gram) form
    * exceeds 1.0 on self-overlapping grams — 'a a a' has two occurrences
    * of its top bigram across three tokens). Denominators are the doc's
    * total token characters; zero-token docs pin to 0.0.
    *
    * Scale shape: explodes are linear in corpus tokens; both gram counts
    * partial-aggregate on (doc, gram) before their exchange; both
    * coverage unions are a distinct on (doc, position) — bounded by
    * corpus tokens, never quadratic. Per-doc rollups are map-side
    * combined.
    */
  def repetitionCoverage(docs: DataFrame): DataFrame = {
    val n = CovDupN
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("total_chars",
        aggregate(transform(col("w"), t => length(t).cast("bigint")),
          lit(0L), (a, x) => a + x))
    val g2 = tk.filter(size(col("w")) >= CovTopN)
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), size(col("w")) - CovTopN),
        i => concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2)))))
      .toDF("doc_id", "i", "g")
    val topG = g2.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("g"))
    val top1 = topG.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
      .select(col("doc_id"), col("g"))
    // ONE exploded (doc, position, length) frame shared by both coverage
    // sums — the duplicated inline copy cost an extra corpus re-tokenize
    val tokLens = tk.select(col("doc_id"), posexplode(col("w")))
      .toDF("doc_id", "p0", "tok")
      .select(col("doc_id"), (col("p0") + 1).as("p"),
        length(col("tok")).cast("bigint").as("len"))
    val top = g2.join(top1, Seq("doc_id", "g"))
      .select(col("doc_id"), explode(sequence(col("i") + 1, col("i") + CovTopN)).as("p"))
      .distinct()
      .join(tokLens, Seq("doc_id", "p"))
      .groupBy(col("doc_id")).agg(sum(col("len")).as("top2_chars"))
    val g5 = tk.filter(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), size(col("w")) - n),
        i => array_join(slice(col("w"), i + lit(1), lit(n)), " "))))
      .toDF("doc_id", "i", "g")
    val rep5 = g5.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c5"))
      .filter(col("c5") >= 2).select(col("doc_id"), col("g"))
    val covered = g5.join(rep5, Seq("doc_id", "g"))
      .select(col("doc_id"), explode(sequence(col("i") + 1, col("i") + n)).as("p"))
      .distinct()
    val dup = covered.join(tokLens, Seq("doc_id", "p"))
      .groupBy(col("doc_id")).agg(sum(col("len")).as("dup_chars"))
    tk.select(col("doc_id"), col("total_chars"))
      .join(top, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("total_chars") === 0, lit(0.0))
          .otherwise(round(coalesce(col("top2_chars"), lit(0L)) / col("total_chars"), 4))
          .as("top2_frac"),
        when(col("total_chars") === 0, lit(0.0))
          .otherwise(round(coalesce(col("dup_chars"), lit(0L)) / col("total_chars"), 4))
          .as("dup5_frac"))
      .orderBy(col("doc_id"))
  }

  def sqlRepetitionCoverage: String = {
    val toks = Portable.sqlTokens("text")
    val n = CovDupN
    val g5 = (0 until n).map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, $toks AS w FROM documents),
       |tot AS (SELECT doc_id,
       |    coalesce(list_sum(list_transform(w, t -> length(t))), 0)::BIGINT AS total_chars
       |  FROM tk),
       |tl AS (SELECT doc_id, i AS p, length(w[i])::BIGINT AS len
       |  FROM tk, LATERAL unnest(range(1, len(w) + 1)) t(i)),
       |g2 AS (SELECT doc_id, i, w[i] || ' ' || w[i + 1] AS g
       |  FROM tk, LATERAL unnest(range(1, len(w))) t(i)),
       |top1 AS (SELECT doc_id, g
       |  FROM (SELECT doc_id, g, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY count(*) DESC, g) AS rn
       |    FROM g2 GROUP BY doc_id, g) WHERE rn = 1),
       |cov2 AS (SELECT DISTINCT g2.doc_id, g2.i + j AS p
       |  FROM g2 JOIN top1 USING (doc_id, g), LATERAL unnest(range(0, $CovTopN)) u(j)),
       |top AS (SELECT cov2.doc_id, sum(tl.len)::BIGINT AS top2_chars
       |  FROM cov2 JOIN tl ON tl.doc_id = cov2.doc_id AND tl.p = cov2.p GROUP BY 1),
       |g5 AS (SELECT doc_id, i, $g5 AS g
       |  FROM tk, LATERAL unnest(range(1, len(w) - ${n - 2})) t(i)),
       |c5 AS (SELECT doc_id, g FROM g5 GROUP BY doc_id, g HAVING count(*) >= 2),
       |cov AS (SELECT DISTINCT g5.doc_id, g5.i + j AS p
       |  FROM g5 JOIN c5 USING (doc_id, g), LATERAL unnest(range(0, $n)) u(j)),
       |dup AS (SELECT cov.doc_id, sum(tl.len)::BIGINT AS dup_chars
       |  FROM cov JOIN tl ON tl.doc_id = cov.doc_id AND tl.p = cov.p GROUP BY 1)
       |SELECT d.doc_id,
       |  CASE WHEN tot.total_chars = 0 THEN 0.0
       |    ELSE round(coalesce(top.top2_chars, 0)::DOUBLE / tot.total_chars, 4) END AS top2_frac,
       |  CASE WHEN tot.total_chars = 0 THEN 0.0
       |    ELSE round(coalesce(dup.dup_chars, 0)::DOUBLE / tot.total_chars, 4) END AS dup5_frac
       |FROM documents d
       |JOIN tot ON tot.doc_id = d.doc_id
       |LEFT JOIN top ON top.doc_id = d.doc_id
       |LEFT JOIN dup ON dup.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Count threshold for [[prunedLmReport]] (t30): bigrams seen fewer
    * times than this are dropped from the pruned table.
    */
  val PruneMinCount = 2

  /** LM pruning report (t30) — the KenLM `--prune` knob priced on real
    * data (the s10/d18/c7 honesty-table pattern applied to the LM): drop
    * every bigram type below [[PruneMinCount]] occurrences from the t19
    * model and measure what it costs — pruned types (the model-size win:
    * singleton bigrams dominate any natural corpus's type inventory) vs
    * the corpus-mean conditional-surprisal increase (pruned bigrams
    * degrade to the add-one floor, exactly how the scorer already treats
    * unseen bigrams, so pruning IS forced unseen-ness). An operator
    * reads this row before shipping a smaller model to the stream gate.
    *
    * Scale shape: ONE corpus pass builds the (bigram, predecessor)
    * count table; both scorings are arithmetic over that
    * vocabulary-sized table (each bigram type's total cost = count ×
    * per-occurrence bits) — the corpus is never re-scanned per variant.
    */
  def prunedLmReport(docs: DataFrame): DataFrame = {
    val tk = docs.select(tokens(col("text")).as("w"))
    val uni = tk.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val vtot = uni.agg(count(lit(1)).as("v"))
    val grams = tk.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => struct(
          concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)).as("g"),
          element_at(col("w"), i).as("pre")))).as("b"))
      .select(col("b.g").as("g"), col("b.pre").as("pre"))
      .groupBy(col("g"), col("pre")).agg(count(lit(1)).as("cg"))
    val kept = col("cg") >= PruneMinCount
    val cgp = when(kept, col("cg")).otherwise(lit(0L))
    // corpus-global double sums are ORDER-SENSITIVE (Spark's partial
    // merge order vs DuckDB's scan order) — the repo's fp convention:
    // round each type's contribution, sum as DECIMAL (exact, order-free
    // in both engines), divide the two exactly-determined numbers once
    grams.join(uni, col("pre") === col("t"))
      .crossJoin(broadcast(vtot))
      .select(col("cg"), kept.as("kept"),
        round(col("cg") * -log2((col("cg") + 1.0) / (col("cu") + col("v"))), 6)
          .cast("decimal(28,6)").as("wb_full"),
        round(col("cg") * -log2((cgp + 1.0) / (col("cu") + col("v"))), 6)
          .cast("decimal(28,6)").as("wb_pruned"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_types"),
        sum(col("cg")).as("n_occurrences"),
        sum(col("wb_full")).cast("double").as("sf"),
        sum(col("wb_pruned")).cast("double").as("sp"))
      .select(col("n_types"), col("n_kept_types"), col("n_occurrences"),
        round(col("sf") / col("n_occurrences"), 4).as("bits_full"),
        round(col("sp") / col("n_occurrences"), 4).as("bits_pruned"),
        round(col("sp") / col("n_occurrences") - col("sf") / col("n_occurrences"), 4)
          .as("delta_bits"),
        round(lit(1.0) - col("n_kept_types") / col("n_types"), 4).as("type_reduction"))
  }

  def sqlPrunedLmReport: String = {
    val toks = Portable.sqlTokens("text")
    s"""WITH tk AS (SELECT $toks AS w FROM documents),
       |uni AS (SELECT t, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(w) AS t FROM tk) GROUP BY t),
       |vtot AS (SELECT count(*)::BIGINT AS v FROM uni),
       |grams AS (SELECT g, pre, count(*)::BIGINT AS cg FROM (
       |    SELECT w[i] || ' ' || w[i + 1] AS g, w[i] AS pre
       |    FROM tk, LATERAL unnest(range(1, len(w))) t(i)) GROUP BY 1, 2),
       |sc AS (SELECT cg, cg >= $PruneMinCount AS kept,
       |    round(cg * -log2((cg + 1.0) / (uni.cu + vtot.v)), 6)::DECIMAL(28,6) AS wb_full,
       |    round(cg * -log2(((CASE WHEN cg >= $PruneMinCount THEN cg ELSE 0 END) + 1.0)
       |      / (uni.cu + vtot.v)), 6)::DECIMAL(28,6) AS wb_pruned
       |  FROM grams JOIN uni ON uni.t = grams.pre, vtot),
       |m AS (SELECT count(*)::BIGINT AS n_types,
       |    sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept_types,
       |    sum(cg)::BIGINT AS n_occurrences,
       |    sum(wb_full)::DOUBLE AS sf, sum(wb_pruned)::DOUBLE AS sp
       |  FROM sc)
       |SELECT n_types, n_kept_types, n_occurrences,
       |  round(sf / n_occurrences, 4) AS bits_full,
       |  round(sp / n_occurrences, 4) AS bits_pruned,
       |  round(sp / n_occurrences - sf / n_occurrences, 4) AS delta_bits,
       |  round(1.0 - n_kept_types::DOUBLE / n_types, 4) AS type_reduction
       |FROM m""".stripMargin
  }

  /** Language-ID confusion matrix (t29) — the eval table for t3's
    * heuristic against the corpus's labeled `lang` column: (label,
    * prediction, count). A classifier whose scores are consumed
    * downstream (mixture weights key on lang, the p25 proxy target IS
    * lang='en') deserves the same honesty table the learned filter got
    * in p33/p35. One partial-aggregated pass; per-row scoring is the
    * identical stateless expression as t3.
    */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs, col("text"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  def sqlLangConfusion: String = {
    val body = Portable.sqlNoOrder(sqlLangId)
    s"""WITH pred AS (SELECT doc_id, lang_pred FROM ($body) t)
       |SELECT d.lang, p.lang_pred, count(*)::BIGINT AS n
       |FROM documents d JOIN pred p ON p.doc_id = d.doc_id
       |GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin
  }

  /** Corpus rank-frequency health report (t28) — the one-row summary a
    * pipeline reads before trusting a new crawl's LANGUAGE SHAPE, the way
    * p9 reads its size shape: token/type counts, hapax fraction (share of
    * vocabulary seen exactly once — scraped-garbage corpora skew high,
    * template spam skews low), and the Zipf slope — the OLS fit of
    * log2(count) on log2(rank) over the full rank-frequency table, which
    * for natural language sits near −1 (Zipf 1949); a slope far from it
    * is the corpus-level smell that no per-doc gate can see.
    *
    * Scale shape: one token count (map-side combined), a vocabulary-sized
    * rank window (the t9 caveat: vocabulary, not corpus, sized — tens of
    * millions of rows at web scale, one sort), then a single-row
    * aggregate of the OLS moments. All log2/doubles; the only outputs are
    * 4-decimal-rounded, far above the fp noise floor of a vocabulary-
    * sized summation.
    */
  /** LEXICAL DIVERSITY PER SOURCE (t45): type-token ratio and Herdan's
    * C = ln V / ln N — the source-level vocabulary-richness row next to
    * t40's corpus growth curve (TTR falls mechanically with size;
    * Herdan's C is the size-robust comparison, so a source whose C sags
    * is template-heavy whatever its volume). One pass to per-(source,
    * token) counts, then a source-sized aggregate; integer ppm TTR, one
    * rounded double per source.
    */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val per = docs.select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    per.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        when(col("n_tokens") > 1,
          round(log(col("n_types").cast("double"))
            / log(col("n_tokens").cast("double")), 4)).as("herdan_c"))
      .orderBy(col("source"))
  }

  /** Oracle for [[lexicalDiversity]]: identical grouping and the same
    * ln-ratio arithmetic.
    */
  val sqlLexicalDiversity: String =
    s"""WITH per AS (SELECT source, unnest(${Portable.sqlTokens("text")}) AS t
       |  FROM documents),
       |pc AS (SELECT source, t, count(*)::BIGINT AS c FROM per GROUP BY 1, 2)
       |SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
       |  (count(*) * 1000000 // sum(c))::BIGINT AS ttr_ppm,
       |  CASE WHEN sum(c) > 1
       |    THEN round(ln(count(*)::DOUBLE) / ln(sum(c)::DOUBLE), 4) END AS herdan_c
       |FROM pc GROUP BY source ORDER BY source""".stripMargin

  def zipfReport(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    // the frequency rank must cover EVERY vocabulary entry (the OLS fit
    // reads all of them), and the vocabulary scales with the corpus —
    // so the rank rides the distributed row number, never the
    // move-everything-to-one-task `row_number() OVER (ORDER BY ...)`
    // (the q34 lesson; (c desc, t) is a total order, so the two agree
    // bit-for-bit and the oracle's serial window replays it)
    val ranked = Ranking
      .withRowNumber(counts, "r", Seq(col("c").desc, col("t")))
      .select(log2(col("r")).as("x"), log2(col("c")).as("y"),
        col("c"), (col("c") === 1).cast("bigint").as("hapax"))
    ranked.agg(
        sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("hapax")).as("nh"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_tokens"), col("n_types"),
        round(col("nh") / col("n_types"), 4).as("hapax_frac"),
        round((col("n_types") * col("sxy") - col("sx") * col("sy"))
          / (col("n_types") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
  }

  def sqlZipfReport: String = {
    val toks = Portable.sqlTokens("text")
    s"""WITH counts AS (SELECT t, count(*)::BIGINT AS c
       |  FROM (SELECT unnest($toks) AS t FROM documents) GROUP BY t),
       |ranked AS (SELECT log2(row_number() OVER (ORDER BY c DESC, t)) AS x,
       |    log2(c) AS y, c, CASE WHEN c = 1 THEN 1 ELSE 0 END AS hapax
       |  FROM counts),
       |m AS (SELECT sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
       |    sum(hapax)::BIGINT AS nh, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * y) AS sxy, sum(x * x) AS sxx
       |  FROM ranked)
       |SELECT n_tokens, n_types,
       |  round(nh::DOUBLE / n_types, 4) AS hapax_frac,
       |  round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 4) AS zipf_slope
       |FROM m""".stripMargin
  }

  def hashedFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), Portable.hash32(col("t")).as("h"))
      .select(col("doc_id"),
        (col("h") % HashFeatBuckets).as("bucket"),
        when(shiftright(col("h"), 5) % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("s"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("s")).as("weight"))
      .orderBy(col("doc_id"), col("bucket"))

  def sqlHashedFeatures: String = {
    val toks = Portable.sqlTokens("text")
    val h = Portable.sqlHash32("tk")
    s"""WITH t AS (SELECT doc_id, unnest($toks) AS tk FROM documents),
       |hh AS (SELECT doc_id, $h AS h FROM t)
       |SELECT doc_id, (h % $HashFeatBuckets)::BIGINT AS bucket,
       |  sum(CASE WHEN (h // 32) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS weight
       |FROM hh GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin
  }

  // ------------------------------------------------- collocations (t39)

  /** Minimum bigram count for the collocation table (rare pairs have
    * unstable PMI; the classic cut).
    */
  val CollocMinCount = 5
  val CollocTopK = 50

  /** CORPUS COLLOCATIONS (t39): top-K adjacent-word bigrams by PMI —
    * log2(p(a,b) / p(a)p(b)) with p(a,b) over the bigram total and p(·)
    * over the token total, the q27 association measure applied to the
    * TOKEN STREAM (adjacency) instead of baskets (co-presence). Bigrams
    * come from a per-row array expression (no position self-join); all
    * counts are integers, and each PMI is ONE double expression over
    * five exact integers — identical in both engines.
    *
    * Scale shape: one explode + (pair) partial aggregate, one (token)
    * partial aggregate, two broadcastable scalar totals, a bounded top-K.
    */
  def collocations(docs: DataFrame): DataFrame = {
    // MATERIALIZE the token array in its own projection: inlining the
    // split() tree under transform/element_at re-runs the regex once per
    // array ACCESS (the CurationStream r10 lesson) — ~2·len split calls
    // per document instead of one
    val tk = docs.select(tokens(col("text")).as("toks"))
    val toks = col("toks")
    // guard single-token docs: Spark's sequence(1, 0) DESCENDS ([1, 0]),
    // it is not empty like DuckDB's range(1, 1) — emit no bigrams instead
    val pairs = tk
      .select(explode(when(size(toks) > 1,
        transform(sequence(lit(1), size(toks) - 1),
          j => concat_ws(" ", element_at(toks, j), element_at(toks, (j + 1).cast("int")))))
        .otherwise(array().cast("array<string>")))
        .as("pair"))
    // the two scalar totals come from array SIZES on a plain doc scan —
    // equal to the exploded counts by construction (a re-aggregation of
    // the pair/unigram streams would re-explode the corpus)
    val pc = pairs.groupBy(col("pair")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= CollocMinCount)
    val uni = tk.select(explode(toks).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tots = tk.agg(sum(size(toks)).cast("long").as("tt"),
      sum(greatest(size(toks) - 1, lit(0))).cast("long").as("tb"))
    // melt each pair to its two (side, word) rows so the unigram table —
    // a full corpus explode — is consumed ONCE, then pivot the two counts
    // back; two joins against uni would run the explode twice
    val sides = pc.select(col("pair"), col("cab"), explode(array(
        struct(lit(1).as("s"), split_part(col("pair"), lit(" "), lit(1)).as("t")),
        struct(lit(2).as("s"), split_part(col("pair"), lit(" "), lit(2)).as("t"))))
        .as("x"))
      .select(col("pair"), col("cab"), col("x.s").as("s"), col("x.t").as("t"))
    val scored = sides.join(uni, "t")
      .groupBy(col("pair"), col("cab"))
      .agg(max(when(col("s") === 1, col("c"))).as("ca"),
        max(when(col("s") === 2, col("c"))).as("cb"))
      .crossJoin(broadcast(tots))
      .select(col("pair"), col("cab"),
        round(log2(col("cab").cast("double") * col("tt") * col("tt")
          / (col("tb") * col("ca") * col("cb"))), 4).as("pmi"))
    // top-K via orderBy+limit (TakeOrderedAndProject — the c10/q38
    // idiom): the cut happens map-side by construction; the rank window
    // then runs over exactly K rows, never the full pair table
    val top = scored.orderBy(col("pmi").desc, col("pair")).limit(CollocTopK)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("pair"))))
      .select(col("rank"), col("pair"), col("cab"), col("pmi"))
      .orderBy(col("rank"))
  }

  /** Oracle for [[collocations]]: same per-row bigram construction, the
    * identical five-integer PMI expression, same cuts and tie-breaks.
    */
  val sqlCollocations: String = {
    val toks = Portable.sqlTokens("text")
    s"""WITH tk AS (SELECT $toks AS toks FROM documents),
      |pairs AS (SELECT unnest(list_transform(range(1, len(toks)),
      |    j -> toks[j] || ' ' || toks[j + 1])) AS pair FROM tk),
      |pc AS (SELECT pair, count(*)::BIGINT AS cab FROM pairs
      |  GROUP BY pair HAVING count(*) >= $CollocMinCount),
      |uni AS (SELECT unnest(toks) AS t FROM tk),
      |uc AS (SELECT t, count(*)::BIGINT AS c FROM uni GROUP BY t),
      |tots AS (SELECT sum(len(toks))::BIGINT AS tt,
      |    sum(greatest(len(toks) - 1, 0))::BIGINT AS tb FROM tk),
      |scored AS (SELECT pc.pair, pc.cab,
      |    round(log2(pc.cab::DOUBLE * tots.tt * tots.tt
      |      / (tots.tb * ca.c * cb.c)), 4) AS pmi
      |  FROM pc
      |  JOIN uc ca ON ca.t = split_part(pc.pair, ' ', 1)
      |  JOIN uc cb ON cb.t = split_part(pc.pair, ' ', 2)
      |  CROSS JOIN tots)
      |SELECT rank, pair, cab, pmi FROM (
      |  SELECT pair, cab, pmi,
      |    row_number() OVER (ORDER BY pmi DESC, pair) AS rank
      |  FROM scored) WHERE rank <= $CollocTopK
      |ORDER BY rank""".stripMargin
  }

  // ----------------------------------------------------- Heaps' law (t40)

  /** Corpus-order checkpoint buckets for the vocabulary-growth curve. */
  val HeapsBuckets = 20

  /** HEAPS'-LAW VOCABULARY GROWTH (t40, the companion of t28's Zipf
    * table): cumulative distinct-type count vs cumulative token count at
    * [[HeapsBuckets]] corpus-order checkpoints. A token's contribution to
    * the type curve is its FIRST bucket (min bucket over its
    * occurrences — the q25 first-occurrence idea lifted to aggregate
    * form, so there is no per-token window); the curve itself is a
    * running sum over the bounded bucket domain, never over tokens.
    */
  def heapsCurve(docs: DataFrame): DataFrame = {
    val nd = docs.agg(count(lit(1)).as("nd"))
    val base = docs.crossJoin(broadcast(nd))
      .select(expr(s"(doc_id * $HeapsBuckets) div nd").as("bucket"),
        explode(tokens(col("text"))).as("t"))
    val tokCnt = base.groupBy(col("bucket")).agg(count(lit(1)).as("toks"))
    val firstB = base.groupBy(col("t")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val run = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokCnt.join(firstB, Seq("bucket"), "left")
      .select(col("bucket"), col("toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(col("bucket"),
        sum(col("toks")).over(run).as("cum_tokens"),
        sum(col("new_types")).over(run).as("cum_types"))
      .orderBy(col("bucket"))
  }

  /** Oracle for [[heapsCurve]]: identical bucketing, min-bucket type
    * attribution, and bounded running sums.
    */
  val sqlHeapsCurve: String = {
    val toks = Portable.sqlTokens("text")
    s"""WITH nd AS (SELECT count(*)::BIGINT AS nd FROM documents),
      |base AS (SELECT (doc_id * $HeapsBuckets) // nd.nd AS bucket,
      |    unnest($toks) AS t
      |  FROM documents, nd),
      |tc AS (SELECT bucket, count(*)::BIGINT AS toks FROM base GROUP BY bucket),
      |fb AS (SELECT bucket, count(*)::BIGINT AS new_types FROM (
      |    SELECT t, min(bucket) AS bucket FROM base GROUP BY t)
      |  GROUP BY bucket)
      |SELECT tc.bucket,
      |  (sum(tc.toks) OVER w)::BIGINT AS cum_tokens,
      |  (sum(coalesce(fb.new_types, 0)) OVER w)::BIGINT AS cum_types
      |FROM tc LEFT JOIN fb USING (bucket)
      |WINDOW w AS (ORDER BY tc.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY bucket""".stripMargin
  }

  // ------------------------------------------------- sentence stats (t38)

  /** Sentence segmentation stats per document (t38): split on terminal
    * punctuation runs `[.!?]+`, drop whitespace-only segments, report the
    * sentence count, mean trimmed-sentence length in characters, and the
    * longest sentence's word count — the sentence-level half of the t2
    * quality battery (mean sentence length is a Gopher rule input; the
    * per-sentence word ceiling catches unsegmented boilerplate walls).
    *
    * Pure per-row array expressions (split / filter / transform /
    * aggregate) — no explode, no shuffle beyond the terminal sort; the
    * char-total fold is integer so the mean's single double division is
    * the only float step, replayed identically by the oracle.
    */
  def sentenceStats(docs: DataFrame): DataFrame = {
    val sents = filter(split(col("text"), "[.!?]+"),
      s => length(trim(s)) > lit(0))
    val nSent = size(col("sents")).cast("long")
    val chars = aggregate(col("sents"), lit(0L),
      (a, s) => a + length(trim(s)).cast("long"))
    val maxWords = array_max(transform(col("sents"),
      s => size(split(trim(s), "\\s+")).cast("long")))
    docs.select(col("doc_id"), sents.as("sents"))
      .select(col("doc_id"), nSent.as("n_sent"),
        when(nSent > 0, round(chars.cast("double") / nSent, 4))
          .otherwise(lit(0.0)).as("avg_chars"),
        when(nSent > 0, maxWords).otherwise(lit(0L)).as("max_words"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[sentenceStats]]: identical split regex, trim filter,
    * integer fold, and rounding in DuckDB's list functions.
    */
  val sqlSentenceStats: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '[.!?]+'),
      |      s -> len(trim(s)) > 0) AS sents
      |  FROM documents)
      |SELECT doc_id, len(sents)::BIGINT AS n_sent,
      |  CASE WHEN len(sents) > 0 THEN
      |    round(list_reduce(list_prepend(0::BIGINT,
      |        list_transform(sents, s -> len(trim(s))::BIGINT)),
      |      (a, b) -> a + b)::DOUBLE / len(sents), 4)
      |  ELSE 0.0 END AS avg_chars,
      |  CASE WHEN len(sents) > 0 THEN
      |    list_max(list_transform(sents,
      |      s -> len(regexp_split_to_array(trim(s), '\s+'))::BIGINT))
      |  ELSE 0 END AS max_words
      |FROM t ORDER BY doc_id""".stripMargin
}
