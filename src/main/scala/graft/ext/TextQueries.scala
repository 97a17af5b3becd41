package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CatalogQuery
import graft.ext.DedupIndex.{Hashes, MaxBucket, RowsPerBand, ThreshDen, ThreshNum}
import graft.sources.Tables

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * per-row expression pipelines (no shuffle until the final aggregate),
  * so they scale linearly and stay inside whole-stage codegen.
  */
object TextQueries {

  /** Tiny built-in stopword lexicons for the n-gram/stopword
    * language-ID heuristic. Real deployments would load profiles; the
    * operator shape (score per language via token-set intersection,
    * argmax) is what matters. */
  private val lexicons: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "他", "这", "中"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  // tx13 hashed linear model: D feature buckets, one integer weight per
  // bucket in [-32768, 32767]. The mix is arbitrary (it stands in for
  // trained parameters); only the EMITTED literals matter — the same
  // array is compiled into the Spark plan (one typedLit, element_at)
  // and the DuckDB oracle (one list literal), so the two engines cannot
  // drift. Integer weights keep the per-doc score an exact LONG sum:
  // fold order is irrelevant, which is what makes a floating "model
  // score" value-oracle-able at all.
  private[ext] val QsD = 256
  private[ext] val qsWeights: Array[Long] = Array.tabulate(QsD) { f =>
    var z = f.toLong * 0x9e3779b97f4a7c15L + 0x7177a17L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    ((z ^ (z >>> 31)) & 0xffffL) - 32768L
  }
  private[ext] def qsWeightsSqlList: String =
    qsWeights.mkString("[", ", ", "]")

  /** tx14 boilerplate threshold: a chunk present in ≥ this many
    * DISTINCT documents is boilerplate (fixture: 4 such chunks). */
  private[ext] val BoilerDf = 3

  /** BM25-scored corpus (doc_id, score_e6), term-bearing docs only —
    * tx12 takes its top-10 directly; ss07 takes a wider candidate set
    * and reranks by embedding cosine. Portability as tx10/dd06: idf
    * integer-scaled (no ln), everything else mul/div/add over exact
    * integer inputs, IEEE-identical in both engines in the same
    * evaluation order. One corpus pass for per-doc tf, one 1-row stats
    * aggregate broadcast back — the per-doc scoring never shuffles. */
  private[ext] val Bm25Terms = Seq("spark", "merge", "window")
  private[ext] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val arr = TextOps.tokens(col("text"))
    val base = docs(s, dir).select(
      (Seq(col("doc_id"), size(arr).cast("long").as("dl")) ++
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(filter(arr, x => x === t)).cast("long").as(s"tf${i + 1}")
        }): _*)
    val statCols = Seq(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++
      Bm25Terms.indices.map(i =>
        greatest(sum(when(col(s"tf${i + 1}") > 0, 1L).otherwise(0L)), lit(1L))
          .as(s"df${i + 1}"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val term = (i: Int) =>
      s"((n * 1000) div df$i) * (tf$i * 2.2) / (tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))"
    base.crossJoin(broadcast(stats))
      .withColumn("score",
        expr(Bm25Terms.indices.map(i => term(i + 1)).mkString(" + ")))
      .filter(col("score") > 0)
      .select(col("doc_id"), round(col("score") * 1e6).cast("long").as("score_e6"))
  }

  /** DuckDB CTE chain re-deriving `bm25Scores` (`d`/`tf`/`stats`/
    * `scored`); callers append their ranking tail. */
  private[ext] def bm25SqlCtes: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS dl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, dl,
      |    CAST(len(list_filter(arr, x -> x = 'spark')) AS BIGINT) AS tf1,
      |    CAST(len(list_filter(arr, x -> x = 'merge')) AS BIGINT) AS tf2,
      |    CAST(len(list_filter(arr, x -> x = 'window')) AS BIGINT) AS tf3
      |  FROM d),
      |stats AS (
      |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
      |    greatest(count(CASE WHEN tf1 > 0 THEN 1 END), 1) AS df1,
      |    greatest(count(CASE WHEN tf2 > 0 THEN 1 END), 1) AS df2,
      |    greatest(count(CASE WHEN tf3 > 0 THEN 1 END), 1) AS df3
      |  FROM tf),
      |scored AS (
      |  SELECT doc_id,
      |    ((n * 1000) // df1) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |    + ((n * 1000) // df2) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |    + ((n * 1000) // df3) * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      AS score
      |  FROM tf, stats)""".stripMargin

  val all: Seq[CatalogQuery] = Seq(

    CatalogQuery(
      "tx01_langid",
      "Language ID via stopword-lexicon scoring + argmax (n-gram heuristic family)",
      (s, dir) => {
        val toks = array_distinct(TextOps.tokens(col("text")))
        val scored = docs(s, dir).select(
          (Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
            lexicons.toSeq.sortBy(_._1).map { case (l, words) =>
              size(array_intersect(toks, array(words.map(lit): _*))).cast("long").as(s"score_$l")
            }): _*)
        val langs = lexicons.keys.toSeq.sorted
        val best = langs.map(l => col(s"score_$l")).reduce(greatest(_, _))
        // argmax with lexicographic tiebreak; all-zero scores → "und"
        val pred = langs.foldRight(lit("und"): Column) { (l, acc) =>
          when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
        }
        scored.withColumn("pred_lang", pred)
          .select(col("doc_id"), col("pred_lang"), col("labeled_lang"))
          .orderBy(col("doc_id"))
      },
      Some {
        val langs = lexicons.keys.toSeq.sorted
        val scoreCols = langs.map { l =>
          val arr = lexicons(l).map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_intersect(list_distinct(regexp_split_to_array(trim(text), '\\s+')), $arr)) AS score_$l"
        }
        val best = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
        val arms = langs.map(l => s"WHEN score_$l = best THEN '$l'").mkString(" ")
        s"""WITH scored AS (
           |  SELECT doc_id, lang AS labeled_lang, ${scoreCols.mkString(",\n    ")}
           |  FROM documents),
           |ranked AS (SELECT *, $best AS best FROM scored)
           |SELECT doc_id,
           |  CASE WHEN best > 0 THEN (CASE $arms END) ELSE 'und' END AS pred_lang,
           |  labeled_lang
           |FROM ranked
           |ORDER BY doc_id""".stripMargin
      }),

    CatalogQuery(
      "tx02_quality_score",
      "Per-doc quality metrics: char/token counts, lexical diversity (distinct/total tokens)",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("diversity"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(length(text) AS BIGINT) AS n_chars,
             |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_distinct,
             |  CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
             |    / len(regexp_split_to_array(trim(text), '\s+')) AS diversity
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx03_token_stats",
      "Corpus token statistics per source: whitespace tokens + word-regex tokens (BPE-ish pre-tokenizer)",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        docs(s, dir)
          .select(col("source"), size(toks).cast("long").as("n_tok"),
            regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_words"),
            length(col("text")).cast("long").as("n_chars"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
            sum(col("n_words")).as("total_words"),
            (sum(col("n_chars")).cast("double") / sum(col("n_tok"))).as("chars_per_token"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
             |  CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS total_words,
             |  CAST(sum(length(text)) AS DOUBLE)
             |    / sum(len(regexp_split_to_array(trim(text), '\s+'))) AS chars_per_token
             |FROM documents
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    CatalogQuery(
      "tx04_fingerprint",
      "Document fingerprint: min window-hash over 4-token shingles (winnowing-style), plus collision summary",
      (s, dir) => {
        // row-generated windows + min-agg: the whole pipeline stays in
        // codegen (higher-order transform lambdas run interpreted).
        // md5 as the window hash: engine-portable (DuckDB computes the
        // identical digest, so this is value-oracled) and its hex form
        // min-selects identically to a numeric min
        val fp = TextOps.wordShingleRows(docs(s, dir), "doc_id", "text", 4)
          .groupBy(col("doc_id"))
          .agg(min(md5(col("_el"))).as("fingerprint"))
        fp.groupBy(col("fingerprint"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
          .orderBy(col("first_doc"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, unnest(CASE
             |    WHEN len(regexp_split_to_array(trim(text), '\s+')) < 4
             |      THEN [trim(text)]
             |    ELSE list_transform(
             |      range(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
             |      i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+3], ' '))
             |    END) AS el
             |  FROM documents),
             |fp AS (SELECT doc_id, min(md5(el)) AS fingerprint FROM sh GROUP BY doc_id)
             |SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS first_doc
             |FROM fp GROUP BY fingerprint ORDER BY first_doc""".stripMargin)),

    CatalogQuery(
      "tx06_ngram_repetition",
      "Gopher-style repetition filter: per-doc bigram duplicate fraction + top-bigram fraction, flag threshold",
      (s, dir) => {
        // bigram rows -> per-(doc,bigram) counts -> per-doc stats. Two
        // shuffles on doc_id-prefixed keys; partial aggregation does the
        // heavy lifting map-side, so this scales linearly in corpus size.
        val cnt = TextOps.wordShingleRows(docs(s, dir), "doc_id", "text", 2)
          .groupBy(col("doc_id"), col("_el"))
          .agg(count(lit(1)).as("c"))
        cnt.groupBy(col("doc_id"))
          .agg(
            sum(col("c")).cast("long").as("n_bigrams"),
            count(lit(1)).cast("long").as("n_distinct"),
            max(col("c")).cast("long").as("top_count"))
          .select(
            col("doc_id"), col("n_bigrams"), col("n_distinct"), col("top_count"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"), 6).as("dup_frac"),
            round(col("top_count").cast("double") / col("n_bigrams"), 6).as("top_frac"))
          .withColumn("flagged",
            (col("dup_frac") > 0.06 || col("top_frac") > 0.08).cast("long"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, unnest(CASE
             |    WHEN len(regexp_split_to_array(trim(text), '\s+')) < 2
             |      THEN [trim(text)]
             |    ELSE list_transform(
             |      range(1, len(regexp_split_to_array(trim(text), '\s+'))),
             |      i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+1], ' '))
             |    END) AS el
             |  FROM documents),
             |cnt AS (SELECT doc_id, el, count(*) AS c FROM sh GROUP BY doc_id, el),
             |m AS (SELECT doc_id,
             |        CAST(sum(c) AS BIGINT) AS n_bigrams,
             |        CAST(count(*) AS BIGINT) AS n_distinct,
             |        CAST(max(c) AS BIGINT) AS top_count
             |      FROM cnt GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, n_distinct, top_count,
             |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams, 6) AS dup_frac,
             |  round(CAST(top_count AS DOUBLE) / n_bigrams, 6) AS top_frac,
             |  CAST(round(1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams, 6) > 0.06
             |    OR round(CAST(top_count AS DOUBLE) / n_bigrams, 6) > 0.08 AS BIGINT) AS flagged
             |FROM m ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx07_stratified_sample",
      "Deterministic hash-based stratified sampling: per-source keep rates via md5 bucket (data-mixture weighting)",
      (s, dir) => {
        // one scan, no shuffle, no RNG: membership is a pure function of
        // doc_id, so the sample is reproducible across runs and engines
        // and re-runs touch exactly the same rows (critical for resumable
        // 100 TB pipeline stages).
        val bucket = substring(
          md5(concat(lit("smpl:"), col("doc_id").cast("string"))), 1, 4)
        val tier = substring(col("source"), 4, 10).cast("int") % 3
        val thr = when(tier === 0, lit("zzzz"))   // keep all
          .when(tier === 1, lit("8000"))          // ~50%
          .otherwise(lit("2000"))                 // ~12.5%
        docs(s, dir)
          .select(col("doc_id"), col("source"),
            tier.cast("long").as("tier"), bucket.as("bucket"), thr.as("thr"))
          .filter(col("bucket") < col("thr"))
          .select(col("doc_id"), col("source"), col("tier"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, source,
             |  CAST(CAST(substr(source, 4) AS INT) % 3 AS BIGINT) AS tier,
             |  substr(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
             |FROM documents
             |WHERE substr(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 4) <
             |  CASE CAST(substr(source, 4) AS INT) % 3
             |    WHEN 0 THEN 'zzzz' WHEN 1 THEN '8000' ELSE '2000' END
             |ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx08_decontamination",
      "Eval-set decontamination: corpus docs sharing any 4-token shingle with the held-out set (doc_id < 20)",
      (s, dir) => {
        // the eval shingle set is small by construction (eval benchmarks
        // are KBs, the corpus is TBs), so it broadcasts and the overlap
        // check is a map-side hash join over one corpus scan.
        val ev = TextOps
          .wordShingleRows(docs(s, dir).filter(col("doc_id") < 20), "doc_id", "text", 4)
          .select(col("_el")).distinct()
        TextOps
          .wordShingleRows(docs(s, dir).filter(col("doc_id") >= 20), "doc_id", "text", 4)
          .join(broadcast(ev), "_el")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("_el")).cast("long").as("n_overlap"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, unnest(CASE
             |    WHEN len(regexp_split_to_array(trim(text), '\s+')) < 4
             |      THEN [trim(text)]
             |    ELSE list_transform(
             |      range(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
             |      i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+3], ' '))
             |    END) AS el
             |  FROM documents),
             |ev AS (SELECT DISTINCT el FROM sh WHERE doc_id < 20)
             |SELECT s.doc_id, CAST(count(DISTINCT s.el) AS BIGINT) AS n_overlap
             |FROM sh s JOIN ev ON s.el = ev.el
             |WHERE s.doc_id >= 20
             |GROUP BY s.doc_id
             |ORDER BY s.doc_id""".stripMargin)),

    CatalogQuery(
      "tx09_pii_redact",
      "PII detection + redaction stats: email/IPv4/phone regex counts and redacted length (synthesized deterministic PII)",
      (s, dir) => {
        // The corpus is synthetic and PII-free, so the query first
        // splices a deterministic contact string (a pure function of
        // doc_id) into each doc — the detection/redaction pipeline then
        // has known-nonzero work to verify. Patterns are chosen in the
        // regex subset where Java (Spark) and RE2 (DuckDB) agree.
        // Per-row expressions only: no shuffle, linear scan, codegen.
        val body = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" phone 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val emailRe = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
        val ipRe = "\\d+\\.\\d+\\.\\d+\\.\\d+"
        val phoneRe = "\\d{3}-\\d{4}"
        val redacted = regexp_replace(regexp_replace(regexp_replace(body,
          emailRe, "[EMAIL]"), ipRe, "[IP]"), phoneRe, "[PHONE]")
        docs(s, dir).select(
          col("doc_id"),
          regexp_count(body, lit(emailRe)).cast("long").as("n_email"),
          regexp_count(body, lit(ipRe)).cast("long").as("n_ip"),
          regexp_count(body, lit(phoneRe)).cast("long").as("n_phone"),
          length(redacted).cast("long").as("redacted_len"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH synth AS (
             |  SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@mail.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
             |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
             |      || ' phone 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(body, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(body, '\d+\.\d+\.\d+\.\d+')) AS BIGINT) AS n_ip,
             |  CAST(len(regexp_extract_all(body, '\d{3}-\d{4}')) AS BIGINT) AS n_phone,
             |  CAST(length(regexp_replace(regexp_replace(regexp_replace(body,
             |    '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+', '[EMAIL]', 'g'),
             |    '\d+\.\d+\.\d+\.\d+', '[IP]', 'g'),
             |    '\d{3}-\d{4}', '[PHONE]', 'g')) AS BIGINT) AS redacted_len
             |FROM synth ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx10_tfidf_terms",
      "TF-IDF top-5 terms per doc (integer-scaled idf = N*1000 div df, so both engines rank identically)",
      (s, dir) => {
        // Classic TF-IDF with the idf in INTEGER arithmetic:
        // score = tf * (N*1000 div df). log-idf would hit the one
        // operation (ln) whose last-ulp rounding the two engines don't
        // guarantee to agree on; the integer form ranks the same way
        // and is exactly portable. Shape: one explode + two keyed
        // aggregations (both with map-side partials) + a per-doc
        // window whose partitions are bounded by doc length. N arrives
        // as a broadcast 1-row aggregate (the tx12 pattern), NOT a
        // driver-side count() — a .count() in the builder would run a
        // full corpus scan at plan-construction time, outside the
        // measured query.
        val n1 = docs(s, dir).agg(count(lit(1)).as("n"))
        val tf = TextOps.fanOut(docs(s, dir))
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))
        tf.join(df, "term").crossJoin(broadcast(n1))
          .withColumn("score", col("tf") * expr("(n * 1000) div df"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("doc_id"), col("rank"), col("term"), col("score"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term,
             |    CAST(tf.tf * ((n.n * 1000) // df.df) AS BIGINT) AS score
             |  FROM tf JOIN df USING (term) CROSS JOIN n),
             |ranked AS (
             |  SELECT doc_id, term, score,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY score DESC, term) AS rank
             |  FROM scored)
             |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
             |FROM ranked WHERE rank <= 5
             |ORDER BY doc_id, rank""".stripMargin)),

    CatalogQuery(
      "tx11_bpe_pairs",
      "BPE vocabulary training, step 1: corpus-wide character-pair frequencies, top-20 merge candidates",
      (s, dir) => {
        // The first merge iteration of byte-pair-encoding tokenizer
        // training: count adjacent character pairs inside every word,
        // rank the merge candidates. Two row-generating explodes (both
        // codegen) collapsing into one partial-aggregated count; the
        // final top-20 is a TakeOrderedAndProject, not a global sort.
        // (Full BPE iterates this with a re-tokenize between rounds;
        // each round is exactly this query shape over the corpus.)
        TextOps.fanOut(docs(s, dir))
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .filter(length(col("tok")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, cast(length(tok) as int) - 1)," +
              " i -> substr(tok, i, 2))")).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20)
      },
      Some("""WITH tok AS (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
             |  FROM documents),
             |pairs AS (
             |  SELECT unnest(list_transform(range(1, length(tok)),
             |    i -> substr(tok, CAST(i AS INT), 2))) AS pair
             |  FROM tok WHERE length(tok) >= 2)
             |SELECT pair, CAST(count(*) AS BIGINT) AS n
             |FROM pairs GROUP BY pair
             |ORDER BY n DESC, pair LIMIT 20""".stripMargin)),

    CatalogQuery(
      "tx12_bm25_search",
      "BM25 text retrieval: top-10 docs for a 3-term query (k1=1.2, b=0.75, integer-scaled idf)",
      (s, dir) =>
        // Corpus search for curation workflows (find docs like an eval
        // item, inspect duplicates found by dd03, etc). Scoring and
        // portability rationale in `bm25Scores`; top-10 is
        // TakeOrderedAndProject.
        bm25Scores(s, dir)
          .orderBy(col("score_e6").desc, col("doc_id")).limit(10),
      Some(s"""$bm25SqlCtes
             |SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS score_e6
             |FROM scored WHERE score > 0
             |ORDER BY score_e6 DESC, doc_id LIMIT 10""".stripMargin)),

    CatalogQuery(
      "tx05_heavy_hitters",
      "Frequent-token sketch: Misra-Gries heavy hitters (k=20, mergeable Aggregator, <=k counters per map task)",
      (s, dir) => {
        val mg = udaf(new graft.functions.Sketches.MisraGries(20))
        TextOps.fanOut(docs(s, dir))
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .agg(mg(col("tok")).as("sketch"))
          .select(posexplode(col("sketch.items")))
          .select((col("pos") + 1).cast("long").as("rank"),
            col("col.token").as("token"),
            col("col.count").as("est_count"))
      },
      None),

    CatalogQuery(
      "tx05b_heavy_hitters_exact",
      "Deterministic heavy-hitter twin: MG sketch survivors recounted exactly, kept iff count*(k+1) > N — the guaranteed-survivor set, merge-order-free",
      (s, dir) => {
        // tx05's raw sketch output is merge-order dependent (borderline
        // survivors and estimated counts shift with partitioning), so it
        // is spec-gated. This twin IS value-oracled: Misra-Gries
        // guarantees every term with frequency > N/(k+1) survives the
        // sketch under ANY merge order, so survivors → exact recount →
        // keep iff count·(k+1) > N yields exactly the frequency->N/(k+1)
        // set, which DuckDB computes directly without a sketch. The
        // recount is a broadcast semi-join (≤k tokens) so the corpus
        // never shuffles; the recount groupBy partial-aggregates to ≤k
        // rows per map task. k=28 sits just below the fixture's ~29-word
        // vocabulary so the sketch genuinely evicts AND the N/29
        // frequency floor (~3.45%) keeps a non-empty survivor set.
        val k = 28
        val tok = TextOps.fanOut(docs(s, dir))
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
        val mg = udaf(new graft.functions.Sketches.MisraGries(k))
        val survivors = tok.agg(mg(col("tok")).as("sketch"))
          .select(explode(col("sketch.items")).as("it"))
          .select(col("it.token").as("tok"))
        val total = tok.agg(count(lit(1)).cast("long").as("n_total"))
        tok.join(broadcast(survivors), Seq("tok"), "left_semi")
          .groupBy(col("tok"))
          .agg(count(lit(1)).cast("long").as("exact_count"))
          .crossJoin(broadcast(total))
          .filter(col("exact_count") * (k + 1) > col("n_total"))
          .select(col("tok").as("token"), col("exact_count"))
          .orderBy(col("exact_count").desc, col("token"))
      },
      Some("""WITH tok AS (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
             |  FROM documents),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
             |c AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS exact_count
             |      FROM tok GROUP BY tok)
             |SELECT token, exact_count FROM c, tot
             |WHERE exact_count * 29 > n
             |ORDER BY exact_count DESC, token""".stripMargin)),

    CatalogQuery(
      "tx13_model_quality_filter",
      "Model-based quality filter: hashed bag-of-words linear scorer (fastText-style) - feature = md5 mod D, integer weights, exact LONG sum per doc",
      (s, dir) => {
        // The model-scored sibling of tx02's heuristics: a linear
        // classifier over a hashed bag-of-words, the shape of a
        // fastText/logreg quality filter applied to a 100 TB corpus.
        // The "trained" weight table is deterministic (QsWeights, an
        // integer per feature bucket emitted into BOTH engines), so
        // scoring is: explode tokens → feature = md5-segment mod D →
        // weight via element_at on one array literal (pure codegen, no
        // join) → per-doc LONG sum + count in ONE aggregation (map-side
        // combine; the shuffle carries one partial row per doc per
        // task). The sum stays integer until the final mean, so fold
        // order can never change the score — engine-portable by
        // construction. keep = positive raw score.
        graft.functions.HashOps.register(s)
        val f = (graft.functions.HashOps.md5Seg32(col("_tok"), 0)
          % QsD).cast("int")
        val w = element_at(typedLit(qsWeights), f + 1)
        TextOps.fanOut(docs(s, dir))
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("_tok"))
          .select(col("doc_id"), w.as("_w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"), sum(col("_w")).as("w_sum"))
          .select(col("doc_id"), col("n_tok"), col("w_sum"),
            round(col("w_sum").cast("double") / col("n_tok").cast("double")
              / 65536.0 * 1e6).cast("long").as("score_e6"),
            when(col("w_sum") > 0, 1L).otherwise(0L).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              |  FROM documents),
              |wt AS (
              |  SELECT doc_id,
              |    ${qsWeightsSqlList}[
              |      (('0x' || substr(md5(tok), 1, 8))::BIGINT % $QsD) + 1] AS w
              |  FROM tok),
              |agg AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
              |    CAST(sum(w) AS BIGINT) AS w_sum
              |  FROM wt GROUP BY doc_id)
              |SELECT doc_id, n_tok, w_sum,
              |  CAST(round(w_sum::DOUBLE / n_tok::DOUBLE / 65536.0 * 1000000.0)
              |    AS BIGINT) AS score_e6,
              |  CAST(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
              |FROM agg ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx14_boilerplate_removal",
      "Cross-document boilerplate removal (C4-style): chunks appearing in >= 3 distinct docs dropped, docs reassembled from kept chunks in order",
      (s, dir) => {
        // dd09 keeps the FIRST copy of a duplicated chunk; real web
        // cleaning drops EVERY copy of high-document-frequency
        // boilerplate (headers, footers, nav text) and stitches the
        // document back together. Document frequency is a two-level
        // aggregation — (chunk, doc) dedup then chunk count — so both
        // stages partial-aggregate map-side and a million-copy chunk
        // arrives at its reducer pre-folded (never a countDistinct over
        // a skewed raw stream). The boilerplate set joins back on
        // chunk_text (the same key the frequency shuffle used; AQE
        // splits any residual skew), and per-doc reassembly sorts only
        // each document's own chunks.
        val chunks = TextOps.tokenChunkRows(docs(s, dir), "doc_id", "text", 20)
        val boiler = chunks.select(col("chunk_text"), col("doc_id")).distinct()
          .groupBy(col("chunk_text")).agg(count(lit(1)).as("_dfreq"))
          .filter(col("_dfreq") >= BoilerDf)
          .select(col("chunk_text"), lit(1).as("_bp"))
        chunks.join(boiler, Seq("chunk_text"), "left")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("_bp").isNotNull, 1L).otherwise(0L)).as("n_removed"),
            array_join(expr(
              "transform(array_sort(collect_list(CASE WHEN _bp IS NULL THEN " +
                "struct(chunk_pos, chunk_text) END)), x -> x.chunk_text)"),
              " ").as("clean_text"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
              |  FROM documents),
              |ch AS (
              |  SELECT doc_id, u.p AS chunk_pos, u.t AS chunk_text
              |  FROM (
              |    SELECT doc_id,
              |      unnest(list_transform(range(0, CAST(ceil(len(arr) / 20.0) AS BIGINT)),
              |        i -> {'p': i, 't': array_to_string(arr[i*20+1 : i*20+20], ' ')})) AS u
              |    FROM tok)),
              |df AS (
              |  SELECT chunk_text, count(*) AS dfreq
              |  FROM (SELECT DISTINCT chunk_text, doc_id FROM ch)
              |  GROUP BY chunk_text),
              |fl AS (
              |  SELECT ch.*, (df.dfreq >= $BoilerDf) AS bp
              |  FROM ch JOIN df USING (chunk_text))
              |SELECT doc_id,
              |  CAST(count(*) AS BIGINT) AS n_chunks,
              |  CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
              |  coalesce(string_agg(CASE WHEN NOT bp THEN chunk_text END,
              |    ' ' ORDER BY chunk_pos), '') AS clean_text
              |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx15_contamination_report",
      "Per-source contamination × cap report: eval-overlap rate per source, and how many contaminated docs survive the dp07 per-source cap",
      (s, dir) => {
        // Composition op — the question a curation run actually asks:
        // which sources are contaminated by the eval set (tx08's
        // broadcast shingle join), and does the per-source cap sample
        // (dp07's deterministic winners) dodge them? Scale shape: eval
        // shingles broadcast (eval benchmarks are KBs); contaminated
        // ids are distinct-aggregated BEFORE any join; the kept set
        // comes from the bounded TopKByScore (≤ cap rows per source
        // per map task — never a window over the corpus); all joins
        // are on doc_id/source with id-only payloads. One text scan
        // for shingles + one narrow (doc_id, source) scan.
        val d = docs(s, dir)
        val corpus = d.filter(col("doc_id") >= 20)
        val ev = TextOps
          .wordShingleRows(d.filter(col("doc_id") < 20), "doc_id", "text", 4)
          .select(col("_el")).distinct()
        // checkpointed (r18): contam is read TWICE below (per-source
        // contamination + kept∩contam) and each lazy reference re-ran
        // the corpus shingle pass + broadcast eval join — JoinAudit
        // counted 19 parquet scans in the final job with only 2 reused
        // exchanges. The frame is distinct doc_ids (tiny at any corpus
        // size: bounded by contaminated docs), exactly the dd03
        // small-frame checkpoint rule.
        val contam = TextOps
          .wordShingleRows(corpus, "doc_id", "text", 4)
          .join(broadcast(ev), "_el")
          .select(col("doc_id")).distinct()
          .localCheckpoint(true)
        val pr = conv(substring(md5(concat(lit("cap:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        val topk = udaf(new graft.functions.Aggregators.TopKByScore(10))
        val kept = corpus
          .select(col("source"), col("doc_id"), pr.as("_pr"))
          .groupBy(col("source"))
          .agg(topk((-col("_pr")).cast("double"), col("doc_id")).as("top"))
          .select(col("source"), explode(col("top.items")).as("kv"))
          .select(col("source"), col("kv.id").as("doc_id"))
        val totals = corpus.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val contamBySrc = corpus.select("doc_id", "source")
          .join(contam, "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("n_contam"))
        val keptContam = kept.join(contam, "doc_id")
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept_contam"))
        totals
          .join(contamBySrc, Seq("source"), "left")
          .join(keptContam, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_contam"), lit(0L)).as("n_contam"),
            least(col("n_docs"), lit(10L)).as("n_kept"),
            coalesce(col("n_kept_contam"), lit(0L)).as("n_kept_contam"))
          .withColumn("contam_rate_e6",
            expr("n_contam * 1000000 div n_docs"))
          .select("source", "n_docs", "n_contam", "contam_rate_e6",
            "n_kept", "n_kept_contam")
          .orderBy(col("source"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, unnest(CASE
             |    WHEN len(regexp_split_to_array(trim(text), '\s+')) < 4
             |      THEN [trim(text)]
             |    ELSE list_transform(
             |      range(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
             |      i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+3], ' '))
             |    END) AS el
             |  FROM documents),
             |ev AS (SELECT DISTINCT el FROM sh WHERE doc_id < 20),
             |contam AS (
             |  SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (el)
             |  WHERE s.doc_id >= 20),
             |corpus AS (SELECT doc_id, source FROM documents WHERE doc_id >= 20),
             |kept AS (
             |  SELECT source, doc_id FROM (
             |    SELECT source, doc_id,
             |      row_number() OVER (PARTITION BY source ORDER BY
             |        ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
             |        doc_id) AS rk
             |    FROM corpus) WHERE rk <= 10),
             |tot AS (SELECT source, count(*) AS n_docs FROM corpus GROUP BY source),
             |cs AS (SELECT source, count(*) AS n_contam
             |       FROM corpus JOIN contam USING (doc_id) GROUP BY source),
             |kc AS (SELECT source, count(*) AS n_kept_contam
             |       FROM kept JOIN contam USING (doc_id) GROUP BY source)
             |SELECT t.source,
             |  CAST(t.n_docs AS BIGINT) AS n_docs,
             |  CAST(coalesce(cs.n_contam, 0) AS BIGINT) AS n_contam,
             |  CAST(coalesce(cs.n_contam, 0) * 1000000 // t.n_docs AS BIGINT)
             |    AS contam_rate_e6,
             |  CAST(least(t.n_docs, 10) AS BIGINT) AS n_kept,
             |  CAST(coalesce(kc.n_kept_contam, 0) AS BIGINT) AS n_kept_contam
             |FROM tot t LEFT JOIN cs USING (source) LEFT JOIN kc USING (source)
             |ORDER BY t.source""".stripMargin)),

    CatalogQuery(
      "tx16_lm_bigram_score",
      "Reference-bigram LM quality score: per-doc coverage and frequency-weighted score against a clean-slice bigram model (CCNet-style data selection, integer-exact)",
      (s, dir) => {
        // CCNet/KenLM-style selection ranks docs by how well a
        // reference LM predicts them. Floating-point log-perplexity is
        // fold-order- and libm-dependent, so the score stays in exact
        // integers: the model is the bigram OCCURRENCE-count table of
        // a clean reference slice (doc_id < 50), a doc's score is the
        // LONG sum of model counts over its own bigram occurrences,
        // and coverage is the fraction of occurrences the model has
        // seen (kept as a num/den pair; the keep flag cross-multiplies
        // instead of dividing). Model build and scoring are one
        // aggregation each; the scoring join keys on the bigram text —
        // the model side is bounded by the reference slice (KBs..MBs
        // by construction), so it broadcasts at any corpus size.
        val bi = TextOps.wordShingleRows(docs(s, dir), "doc_id", "text", 2)
        val model = bi.filter(col("doc_id") < 50)
          .groupBy(col("_el")).agg(count(lit(1)).as("_cnt"))
        bi.join(broadcast(model), Seq("_el"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            count(col("_cnt")).as("n_known"),
            sum(coalesce(col("_cnt"), lit(0L))).as("score"))
          .select(col("doc_id"), col("n_bigrams"), col("n_known"),
            col("score"),
            (col("n_known") * 10 >= col("n_bigrams") * 8)
              .cast("long").as("lm_keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (${TextOps.wordShingleSql(2)}),
              |model AS (SELECT el, count(*) AS cnt FROM sh
              |          WHERE doc_id < 50 GROUP BY el),
              |j AS (SELECT sh.doc_id, model.cnt
              |      FROM sh LEFT JOIN model USING (el))
              |SELECT doc_id,
              |  CAST(count(*) AS BIGINT) AS n_bigrams,
              |  CAST(count(cnt) AS BIGINT) AS n_known,
              |  CAST(sum(coalesce(cnt, 0)) AS BIGINT) AS score,
              |  CAST(CASE WHEN count(cnt) * 10 >= count(*) * 8
              |    THEN 1 ELSE 0 END AS BIGINT) AS lm_keep
              |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx17_novelty_score",
      "Per-document novelty accounting: fraction of a doc's 8-token windows whose corpus-wide FIRST carrier (min doc_id = ingestion order) is the doc itself — dedup-aware data-valuation (how many new spans each doc contributes)",
      (s, dir) => {
        // Curation wants to know not just "is this a duplicate" but
        // "how much NEW text does each doc add" — the marginal-value
        // ordering behind dedup-aware sampling. A window is novel for
        // the doc that introduced it (keep-first convention, dd02):
        // first carrier = min(doc_id) over the window's occurrences.
        // Same scale shape as dd15: only 16-byte digests shuffle, the
        // first-carrier table is a map-side-combining min aggregation,
        // and the count-back join co-partitions on the digest. Docs
        // shorter than the window default to fully novel (no
        // duplication evidence against them).
        val k = 8
        val d = docs(s, dir).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        val grams = TextOps
          .wordShinglePosRows(docs(s, dir), "doc_id", "text", k)
          .select(col("doc_id"), TextOps.windowKey1(col("_el")).as("h1"),
            TextOps.windowKey2(col("_el")).as("h2"))
        // JOIN-FREE first-carrier attribution (the dd20 packed-long
        // trick): level 1 folds occurrences per (gh, doc) — each doc
        // appears once per gh after it, and its count c < 2^20 (the
        // maxDocTokens guard) — so level 2's min(doc*2^20 + c) is
        // exactly (first carrier, its occurrence count), and a doc's
        // novel occurrences are the sum of those counts over the
        // windows it first carried. Replaces the digest-stream
        // join-back (build-side of 36.7M rows at the 500k corpus).
        // ONE shuffle for both levels: an explicit repartition on
        // (h1, h2) satisfies the clustered distribution of BOTH the
        // finer (h1, h2, doc) grouping and the coarser (h1, h2) one —
        // the default plan shuffled the 36.7M-row stream twice (the
        // lost map-side partial combined near-nothing on near-unique
        // keys anyway). AT-SCALE NOTE: a manual repartition PINS the
        // partition count to spark.sql.shuffle.partitions and opts
        // that exchange out of AQE coalescing/skew-split — the right
        // trade at the measured 500k scale (it is what removes the
        // second shuffle); on a real cluster that conf should track
        // the window-stream size (~one partition per 128 MB of
        // (h1,h2,doc_id) rows). And n_win never touches the gram stream: the
        // stride-1 window count is CLOSED-FORM from the token count
        // (n_tok - k + 1 when n_tok >= k) — the previous
        // groupBy(doc_id) over 36.7M rows recomputed a subtraction.
        // Checkpoint-free throughout (wide streams recompute cheaper
        // than they materialize). The c < 2^20 bound holds only while
        // the user-raisable maxDocTokens cap itself stays <= 2^20 —
        // refuse an over-raised cap loudly.
        TextOps.requirePackablePositions(s)
        // doc_id < 2^43 enforced per-row on the level-1 output (the
        // smaller stream — distinct (h1,h2,doc) rows), before the
        // packing aggregate that would overflow on a wider id
        val novel = TextOps.requirePackableDocIds(
            grams.repartition(col("h1"), col("h2"))
              .groupBy(col("h1"), col("h2"), col("doc_id"))
              .agg(count(lit(1)).as("c")),
            "doc_id", "tx17")
          .groupBy(col("h1"), col("h2"))
          .agg(min(col("doc_id") * lit(1048576L) + col("c")).as("fk"))
          .select(expr("fk div 1048576").as("doc_id"),
            pmod(col("fk"), lit(1048576L)).as("nv"))
          .groupBy(col("doc_id")).agg(sum(col("nv")).as("n_novel"))
        d.join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok"),
            when(col("n_tok") >= k, col("n_tok") - (k - 1))
              .otherwise(0L).cast("long").as("n_win"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .withColumn("novelty_pct_e6",
            when(col("n_win") === 0, lit(1000000L))
              .otherwise(round(col("n_novel") * 1e6 / col("n_win"))
                .cast("long")))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tok
             |  FROM documents),
             |d AS (SELECT doc_id, len(tok) AS n_tok, tok FROM t),
             |g AS (
             |  SELECT doc_id,
             |    md5(array_to_string(tok[i:i+7], ' ')) AS gh FROM (
             |    SELECT doc_id, tok, unnest(range(1, len(tok) - 6)) AS i
             |    FROM d WHERE len(tok) >= 8)),
             |fd AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh),
             |pd AS (
             |  SELECT g.doc_id, count(*) AS n_win,
             |    sum(CASE WHEN g.doc_id = fd.first_doc THEN 1 ELSE 0 END)
             |      AS n_novel
             |  FROM g JOIN fd USING (gh) GROUP BY g.doc_id)
             |SELECT d.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             |  CAST(coalesce(n_win, 0) AS BIGINT) AS n_win,
             |  CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
             |  CAST(CASE WHEN coalesce(n_win, 0) = 0 THEN 1000000
             |    ELSE round(n_novel * 1000000.0 / n_win) END AS BIGINT)
             |    AS novelty_pct_e6
             |FROM d LEFT JOIN pd USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx18_cms_counts",
      "Count-Min sketch over word bigrams (d=4 rows x w=256, md5/mod-p universal hashes): fixed-size mergeable frequency table + per-bigram min-row estimate vs exact count — the fully value-oracled sketch (integer sums are merge-order-free)",
      (s, dir) => {
        // tx05's Misra-Gries is merge-order dependent and therefore
        // spec-gated; CMS is the sketch family whose state is PURE
        // integer sums — commutative and associative, so ANY
        // partitioning/merge order yields the identical table and the
        // whole operator value-oracles. The table is d×w cells
        // REGARDLESS of corpus size (the 100 TB property: per-shard
        // tables add elementwise; here the groupBy(r, p) partial
        // aggregation IS that merge). Estimates: est(x) = min over d
        // rows of the cell x hashes into — ≥ true count always, over
        // by at most the colliding mass in its lightest row. Bigrams
        // (~780 distinct on the fixture vocab) against w=256 force
        // real collisions, so the over column is non-trivially
        // exercised. The probe side is the distinct vocabulary; the
        // d·w-cell table broadcasts to it.
        val d = 4; val w = 256L; val p = 2147483647L
        val el = TextOps.wordShingleRows(docs(s, dir), "doc_id", "text", 2)
          .select(col("_el"))
        // Deliberately NOT materialized: the table build and the
        // truth/probe pass each re-run the shingle+md5 projection (a
        // MAP-ONLY pass, no shuffle). A/B-measured both ways: at
        // sf0.1 a localCheckpoint wins (1.7 s vs 4.0 s — the frame is
        // tiny), but at 500k docs it LOSES 2.5x (109.6 s vs 43.4 s —
        // materializing 40M bigram rows costs more than recomputing
        // them), and the scale direction is what a 100 TB deployment
        // pays. Recompute-over-materialize is the right default for
        // corpus-wide narrow map passes; contrast dd12's signature
        // index, whose checkpointed frame is per-DOC (n rows), not
        // per-occurrence.
        graft.functions.HashOps.register(s)
        val hashed = el.select(col("_el"),
          (graft.functions.HashOps.md5Seg32(col("_el"), 0)
            .bitwiseAND(lit(Int.MaxValue.toLong))).as("h"))
        def posArr = array((0 until d).map(i => struct(lit(i).as("r"),
          ((col("h") * lit(TextOps.uhA(i)) + lit(TextOps.uhB(i)))
            % lit(p) % lit(w)).as("p"))): _*)
        val cms = hashed.select(explode(posArr).as("rp"))
          .groupBy(col("rp.r").as("r"), col("rp.p").as("p"))
          .agg(count(lit(1)).as("cnt"))
        val truth = hashed.groupBy(col("_el"), col("h"))
          .agg(count(lit(1)).as("true_cnt"))
        val probes = truth
          .select(col("_el"), col("true_cnt"), explode(posArr).as("rp"))
          .select(col("_el"), col("true_cnt"),
            col("rp.r").as("r"), col("rp.p").as("p"))
        probes.join(broadcast(cms), Seq("r", "p"))
          .groupBy(col("_el"), col("true_cnt"))
          .agg(min(col("cnt")).as("cms_est"))
          .select(col("_el").as("bigram"), col("true_cnt"), col("cms_est"),
            (col("cms_est") - col("true_cnt")).as("over"))
          .orderBy(col("cms_est").desc, col("bigram"))
      },
      Some {
        val d = 4
        def posSql(src: String): String = (0 until d).map(i =>
          s"SELECT el, h, $i AS r, (h * ${TextOps.uhA(i)} + ${TextOps.uhB(i)})" +
            s" % 2147483647 % 256 AS p FROM $src").mkString(" UNION ALL ")
        s"""WITH sh AS (${TextOps.wordShingleSql(2)}),
           |hh AS (SELECT el,
           |    ('0x' || substr(md5(el), 1, 8))::BIGINT & 2147483647 AS h
           |  FROM sh),
           |pos AS (${posSql("hh")}),
           |cms AS (SELECT r, p, count(*) AS cnt FROM pos GROUP BY r, p),
           |truth AS (SELECT el, count(*) AS true_cnt FROM hh GROUP BY el),
           |probes AS (SELECT DISTINCT el, r, p FROM pos),
           |est AS (SELECT probes.el, min(cnt) AS est
           |        FROM probes JOIN cms USING (r, p) GROUP BY probes.el)
           |SELECT t.el AS bigram, CAST(true_cnt AS BIGINT) AS true_cnt,
           |  CAST(est AS BIGINT) AS cms_est,
           |  CAST(est - true_cnt AS BIGINT) AS over
           |FROM truth t JOIN est USING (el)
           |ORDER BY cms_est DESC, bigram""".stripMargin
      }),

    CatalogQuery(
      "tx19_scored_decontamination",
      "Frequency-scored eval decontamination: tx08's shingle-overlap hits weighted by background rarity — a doc is contaminated on any RARE overlapping shingle or >= 20% occurrence overlap (the n-gram + frequency-threshold shape real decontamination uses)",
      (s, dir) => {
        // tx08 counts overlaps; real decontamination (the published
        // n-gram recipes) also asks how DISTINCTIVE each overlap is —
        // a shingle common across the corpus ("of the and the") is
        // weak evidence, one carried by only a couple of docs is
        // near-certain leakage. All-integer decision: a shingle's
        // background spread = its distinct-corpus-doc count (computed
        // on overlap hits ONLY, so it is bounded by the eval shingle
        // set and broadcasts at any corpus size); contaminated =
        // any overlapping shingle with spread <= 2, OR overlap
        // occurrences >= 20% of the doc's shingle occurrences (the
        // occurrence total is CLOSED-FORM from the token count —
        // max(n_tok-3, 1) — no second corpus-wide aggregation).
        // One corpus shingle scan + broadcast joins; nothing quadratic.
        val k = 4
        val sh = TextOps.wordShingleRows(docs(s, dir), "doc_id", "text", k)
        val ev = sh.filter(col("doc_id") < 20).select(col("_el")).distinct()
        val corpus = sh.filter(col("doc_id") >= 20)
        // checkpointed (r18): hitOcc is read twice (hitDocs + perDocOcc)
        // and hitDocs twice more (spread + perDocRare) — lazily each
        // reference re-ran the corpus shingle pass + broadcast eval
        // join (JoinAudit: 18 parquet scans in the final job). The
        // frame is the eval-overlap OCCURRENCES only — bounded by the
        // eval set's carriers, tiny at any corpus size — so one
        // checkpoint puts the whole query on a single corpus shingle
        // pass (the dd03 small-frame checkpoint rule).
        val hitOcc = corpus.join(broadcast(ev), "_el")
          .select(col("_el"), col("doc_id"))
          .localCheckpoint(true)
        // distinct (shingle, doc) pairs — bounded by |eval shingles| ×
        // carriers; spread per shingle is then a count over that
        val hitDocs = hitOcc.select(col("_el"), col("doc_id")).distinct()
        val spread = hitDocs.groupBy(col("_el"))
          .agg(count(lit(1)).as("bg_spread"))
        val perDocRare = hitDocs.join(broadcast(spread), "_el")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_overlap"),
            sum((col("bg_spread") <= 2).cast("long")).as("n_rare_overlap"))
        val perDocOcc = hitOcc.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_overlap_occ"))
        val totals = docs(s, dir).filter(col("doc_id") >= 20)
          .select(col("doc_id"),
            greatest(size(TextOps.tokens(col("text"))).cast("long") - (k - 1),
              lit(1L)).as("n_occ"))
        totals.join(perDocRare, "doc_id").join(perDocOcc, "doc_id")
          .select(col("doc_id"), col("n_occ"), col("n_overlap"),
            col("n_rare_overlap"), col("n_overlap_occ"),
            (col("n_rare_overlap") >= 1 ||
              col("n_overlap_occ") * 5 >= col("n_occ"))
              .cast("long").as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH sh AS (${TextOps.wordShingleSql(4)}),
              |ev AS (SELECT DISTINCT el FROM sh WHERE doc_id < 20),
              |hit_occ AS (
              |  SELECT s.doc_id, s.el FROM sh s JOIN ev USING (el)
              |  WHERE s.doc_id >= 20),
              |hit_docs AS (SELECT DISTINCT el, doc_id FROM hit_occ),
              |spread AS (
              |  SELECT el, count(*) AS bg_spread FROM hit_docs GROUP BY el),
              |rare AS (
              |  SELECT hd.doc_id, count(*) AS n_overlap,
              |    sum(CASE WHEN bg_spread <= 2 THEN 1 ELSE 0 END)
              |      AS n_rare_overlap
              |  FROM hit_docs hd JOIN spread USING (el) GROUP BY hd.doc_id),
              |occ AS (
              |  SELECT doc_id, count(*) AS n_overlap_occ FROM hit_occ
              |  GROUP BY doc_id),
              |tot AS (
              |  SELECT doc_id,
              |    greatest(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
              |      AS BIGINT) - 3, 1) AS n_occ
              |  FROM documents WHERE doc_id >= 20)
              |SELECT t.doc_id, t.n_occ,
              |  CAST(n_overlap AS BIGINT) AS n_overlap,
              |  CAST(n_rare_overlap AS BIGINT) AS n_rare_overlap,
              |  CAST(n_overlap_occ AS BIGINT) AS n_overlap_occ,
              |  CAST(CASE WHEN n_rare_overlap >= 1
              |    OR n_overlap_occ * 5 >= t.n_occ THEN 1 ELSE 0 END AS BIGINT)
              |    AS contaminated
              |FROM tot t JOIN rare USING (doc_id) JOIN occ USING (doc_id)
              |ORDER BY t.doc_id""".stripMargin)),

    CatalogQuery(
      "tx20_quality_gate",
      "Per-language quality-quantile gate: lexical-diversity score, top-30% cohort per language via histogram-cumulative thresholds (ties at the threshold kept) — no per-document rank, no per-language global sort",
      (s, dir) => {
        // The curation step "keep the top q% quality per language"
        // WITHOUT ranking documents: a per-doc rank needs a global sort
        // of each language partition (5 languages = 5 giant reducers at
        // 100 TB). Instead the integer score histogram — (lang, score)
        // with map-side combine, cardinality bounded by distinct scores
        // — carries the cumulative count; the windowed cumsum runs over
        // that SMALL histogram only, and the resulting ≤|langs| row
        // threshold relation joins back (broadcast-sized by
        // construction). Cohort semantics: threshold = max score whose
        // ≥-cohort reaches 30% of the language (cum*10 >= n*3, pure
        // integers), ties at the threshold all kept — so the gate is a
        // pure predicate on (lang, score), no tie-break rank needed.
        // Score = round(distinct/total tokens * 1e6) (the repo's
        // integer-e6 convention: both engines round IEEE doubles
        // half-away-from-zero).
        import org.apache.spark.sql.expressions.Window
        val toks = TextOps.tokens(col("text"))
        val scored = docs(s, dir).select(col("doc_id"), col("lang"),
          round(size(array_distinct(toks)) * lit(1e6) / size(toks))
            .cast("long").as("score_e6"))
        val n = scored.groupBy(col("lang")).agg(count(lit(1)).as("_n"))
        val hist = scored.groupBy(col("lang"), col("score_e6"))
          .agg(count(lit(1)).as("_c"))
        val cum = hist.withColumn("_cum", sum(col("_c")).over(
          Window.partitionBy(col("lang")).orderBy(col("score_e6").desc)))
        val thr = cum.join(n, "lang")
          .filter(col("_cum") * 10 >= col("_n") * 3)
          .groupBy(col("lang")).agg(max(col("score_e6")).as("thr_e6"))
        scored.join(thr, "lang")
          .filter(col("score_e6") >= col("thr_e6"))
          .select(col("doc_id"), col("lang"), col("score_e6"), col("thr_e6"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (SELECT doc_id, lang,
             |    CAST(round(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 1e6
             |      / len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS score_e6
             |  FROM documents),
             |n AS (SELECT lang, count(*) AS n FROM s GROUP BY lang),
             |h AS (SELECT lang, score_e6, count(*) AS c FROM s GROUP BY lang, score_e6),
             |cum AS (SELECT lang, score_e6,
             |    sum(c) OVER (PARTITION BY lang ORDER BY score_e6 DESC) AS cum
             |  FROM h),
             |thr AS (SELECT cum.lang, max(score_e6) AS thr_e6
             |  FROM cum JOIN n USING (lang)
             |  WHERE cum * 10 >= n * 3 GROUP BY cum.lang)
             |SELECT s.doc_id, s.lang, s.score_e6, thr.thr_e6
             |FROM s JOIN thr USING (lang)
             |WHERE s.score_e6 >= thr.thr_e6
             |ORDER BY s.doc_id""".stripMargin)),

    CatalogQuery(
      "tx21_source_overlap",
      "Pairwise source-overlap matrix: exact 3-token shingle-set Jaccard between every source pair — the corpus-governance report (which sources duplicate each other) behind mixture de-weighting decisions",
      (s, dir) => {
        // Exact set semantics so DuckDB can mirror it: distinct
        // (source, shingle) rows, per-source set sizes, pairwise
        // intersections via a self-join on the shingle key. The
        // shingle is carried as the two-long (h1, h2) window key from
        // the moment it leaves the generator — the round-15 key-shape
        // receipts in SCALING.md ("Round 15: the ExactSubstr family
        // re-engineered", lever 3: string keys 2-4x slower to hash/sort
        // through aggregation and join) applied to tx21's three string-keyed
        // exchanges (doc_id join-back, distinct, self-join), and the
        // key never reaches the output so md5-portability doesn't
        // bind; the lanes are independent (TextOps.windowKey2's
        // lane-independence contract), so the 2^-128 collision class
        // keeps the distinct-set cardinalities exact at any real
        // corpus. Scale shape: both aggregates map-side combine; the
        // self-join's per-shingle fanout is bounded by #sources² (a
        // handful), and the output is |sources|² rows. The
        // distinct-shingle shuffle is the honest cost — at petabyte
        // scale you would estimate this matrix from dd03's per-doc
        // minhash signatures instead (same report, sampled); this
        // exact form is the oracle-able baseline that calibrates such
        // an estimator.
        val d = docs(s, dir)
        // NOT checkpointed, deliberately (r18 audit): ss is read three
        // times (sizes + both self-join sides) and JoinAudit counts the
        // re-derivations (15 scans in the final job) — but a checkpoint
        // here moves the shingle generator and the distinct exchange
        // into an opaque RDD scan, which would make PlanSpec's tx21
        // string-free-exchange gate vacuous (the r16 2.2× receipt it
        // protects) and leaves the self-join's exchanges free to
        // collapse below the gate's floor. The re-derivations are
        // narrow long-keyed passes; the gate wins.
        val ss = TextOps.wordShingleRows(d, "doc_id", "text", 3)
          .select(col("doc_id"), TextOps.windowKey1(col("_el")).as("h1"),
            TextOps.windowKey2(col("_el")).as("h2"))
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), col("h1"), col("h2")).distinct()
        val sz = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val inter = ss.as("a").join(ss.as("b"),
            col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_inter"))
        inter
          .join(sz.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
          .join(sz.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"),
            round(col("n_inter") * lit(1e6) /
              (col("n_a") + col("n_b") - col("n_inter"))).cast("long").as("jaccard_e6"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH sh AS (${TextOps.wordShingleSql(3)}),
             |ss AS (SELECT DISTINCT d.source, s.el
             |  FROM sh s JOIN documents d USING (doc_id)),
             |sz AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
             |inter AS (SELECT a.source AS src_a, b.source AS src_b,
             |    count(*) AS n_inter
             |  FROM ss a JOIN ss b ON a.el = b.el AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b,
             |  CAST(n_inter AS BIGINT) AS n_inter,
             |  CAST(round(n_inter * 1e6 / (sa.n + sb.n - n_inter)) AS BIGINT)
             |    AS jaccard_e6
             |FROM inter
             |JOIN sz sa ON sa.source = src_a
             |JOIN sz sb ON sb.source = src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    CatalogQuery(
      "tx22_source_overlap_estimate",
      "Signature-space ESTIMATE of tx21's source-overlap matrix: per-source MinHash (64 hashes) built in one map-side-combinable element pass, then pairwise component-match Jaccard estimates on the k-long signatures — the petabyte-scale form of the governance report tx21's exact matrix calibrates",
      (s, dir) => {
        // The scale inversion vs tx21: the exact matrix self-joins the
        // DISTINCT (source, shingle) rows (shuffle ∝ corpus), while
        // this pass reduces the corpus to ONE signature row of 64
        // longs per source (min-agg, duplicate-insensitive, map-side
        // combined) and the pairwise stage runs on |sources| rows —
        // constant-size however large the corpus. Estimator property:
        // E[n_match/k] = J exactly (MinHash), stderr √(J(1−J)/64);
        // the TextOpsCalibrationSpec pins the agreement with tx21 on
        // planted corpora.
        val d = docs(s, dir)
        val srcRows = TextOps.wordShingleRows(d, "doc_id", "text", 3)
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"), col("_el"))
        // checkpointed (r18): the pairwise matrix SELF-JOINS this frame,
        // and each lazy side re-ran the whole corpus shingle + md5 +
        // 64-way min-agg signature pass (JoinAudit: 9 parquet scans in
        // the final job). The frame is ONE row of 64 longs per source —
        // the dd03 small-frame checkpoint rule at its purest.
        val sig = TextOps.signatureRows(srcRows, "source", 64)
          .localCheckpoint(true)
        TextOps.signatureOverlapMatrix(sig, "source", 64)
          .select(col("id_a").as("src_a"), col("id_b").as("src_b"),
            col("n_match"), col("est_jaccard_e6"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(TextOps.sourceOverlapEstimateOracleSql(
        TextOps.wordShingleSql(3), 64))),

    CatalogQuery(
      "tx23_cross_source_neardup",
      "Near-dup leakage matrix: verified document-level near-dup pairs (dd03's bounded LSH chain) attributed to (source, source) cells — which sources duplicate EACH OTHER at document granularity, the dedup-pressure complement of tx21's shingle-mass overlap",
      (s, dir) => {
        // tx21/tx22 answer "how much shingle mass do sources share";
        // this answers "how many actual near-duplicate DOCUMENT pairs
        // land in each source cell" — the report that tells a curation
        // run which source to de-weight (or which ingest to gate)
        // before paying for cross-source dedup. Reuses dd03's whole
        // bounded chain (banded LSH, capped buckets, exact-Jaccard
        // verify — the SAME constants, so this costs what dd03 costs),
        // then two hashed joins on doc_id fold each verified pair into
        // its (least, greatest) source cell: off-diagonal = leakage
        // across sources, diagonal = intra-source duplication. Output
        // is <= |sources|² rows at any corpus size.
        val d = docs(s, dir)
        val rows = TextOps.wordShingleRows(d, "doc_id", "text", 3)
        val pairs = TextOps.lshNearDupPairs(rows, "doc_id",
          numHashes = Hashes, rowsPerBand = RowsPerBand, maxBucketSize = MaxBucket,
          threshNum = ThreshNum, threshDen = ThreshDen)
        TextOps.nearDupSourceMatrix(pairs, d.select(col("doc_id"), col("source")))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(TextOps.lshSourceMatrixOracleSql(TextOps.wordShingleSql(3),
        numHashes = Hashes, rowsPerBand = RowsPerBand, maxBucketSize = MaxBucket,
        threshNum = ThreshNum, threshDen = ThreshDen))),

    CatalogQuery(
      "tx24_split_drift_psi",
      "Train/val distribution-drift report: per-token-length-bucket PSI contributions between dp02's deterministic splits (Laplace-smoothed, pure function of the counts) — the split-skew check a pipeline runs before trusting its eval numbers",
      (s, dir) => {
        // A hash split SHOULD leave train and val identically
        // distributed; a biased split (or a drifted ingest) shows up
        // as PSI mass in the length buckets long before eval metrics
        // move. Same md5 split rule as dp02 (membership is a pure
        // function of doc_id), token counts folded into 8 fixed-width
        // buckets, then one (bucket x cohort) count aggregate + a
        // broadcast totals row — flat in corpus size. Sum psi_contrib
        // for the headline PSI (< 0.1 stable by the standard reading).
        val rows = docs(s, dir).select(PipelineQueries.splitCol.as("split"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
          .select(col("split"),
            least(expr("n_tok div 25"), lit(7L)).as("bucket"))
        TextOps.psiContributions(rows, "split", "bucket", "train", "val")
          .orderBy(col("bucket"))
      },
      Some(s"""WITH a AS (
             |  SELECT
             |    ${PipelineQueries.splitSql} AS split,
             |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
             |  FROM documents),
             |b AS (SELECT split, least(n_tok // 25, 7) AS bucket
             |      FROM a WHERE split <> 'test'),
             |c AS (SELECT bucket,
             |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_a,
             |    sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_b
             |  FROM b GROUP BY bucket),
             |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS nb FROM c)
             |SELECT CAST(bucket AS BIGINT) AS bucket,
             |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |  round((CAST(n_a + 1 AS DOUBLE) / (ta + nb)
             |       - CAST(n_b + 1 AS DOUBLE) / (tb + nb))
             |    * ln((CAST(n_a + 1 AS DOUBLE) / (ta + nb))
             |        / (CAST(n_b + 1 AS DOUBLE) / (tb + nb))), 6) AS psi_contrib
             |FROM c, tot ORDER BY bucket""".stripMargin)),

    CatalogQuery(
      "tx25_bpe_tokenize",
      "BPE tokenizer application (tx11's training counts pair candidates; this applies the learned merge table): bounded-round pair replacement per doc, reporting symbol count before, token count after, and an md5 fingerprint of the full token sequence",
      (s, dir) => {
        // The single most-used operator in a training pipeline once a
        // tokenizer exists: turn text into token counts (for packing,
        // budgets, billing) by APPLYING a merge table. Semantics and
        // the cross-engine-exact replace encoding live in
        // TextOps.bpeEncode; here: n_sym = characters entering the
        // merge loop (the word markers excluded), n_tok = symbols
        // left after BpeRounds rounds, token_md5 pins the exact token
        // SEQUENCE (not just its length) so the oracle catches a
        // reordered or mis-merged chain. Scale shape: a pure per-row
        // projection of codegen'd string expressions — no shuffle
        // before the presentation sort, flat per-doc cost.
        graft.functions.TextNorm.register(s)
        val body = TextOps.bpeBody(col("text"))
        val enc = TextOps.bpeEncode(body)
        docs(s, dir)
          .select(col("doc_id"), body.as("_body"), enc.as("_enc"))
          .select(col("doc_id"),
            length(replace(col("_body"), lit("#"), lit(""))).cast("long")
              .as("n_sym"),
            (length(col("_enc"))
              - length(replace(col("_enc"), lit("|"), lit(""))) - 1
              - (length(col("_body"))
                 - length(replace(col("_body"), lit("#"), lit("")))))
              .cast("long").as("n_tok"),
            md5(col("_enc")).as("token_md5"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH b AS (
             |  SELECT doc_id, ${TextOps.bpeBodySql} AS body
             |  FROM documents),
             |e AS (SELECT doc_id, body,
             |    ${TextOps.bpeEncodeSql("body")} AS enc
             |  FROM b)
             |SELECT doc_id,
             |  CAST(length(replace(body, '#', '')) AS BIGINT) AS n_sym,
             |  CAST(length(enc) - length(replace(enc, '|', '')) - 1
             |    - (length(body) - length(replace(body, '#', ''))) AS BIGINT)
             |    AS n_tok,
             |  md5(enc) AS token_md5
             |FROM e ORDER BY doc_id""".stripMargin)),

    CatalogQuery(
      "tx26_bpe_train",
      "BPE tokenizer TRAINING, bounded rounds (tx11 is one unweighted round; tx25 applies the result): one corpus scan builds the word-frequency table, then each round counts frequency-weighted adjacent symbol pairs over that vocab-bounded table, takes the deterministic argmax, and merges it — the learned merge table out",
      (s, dir) => {
        // The production trainer's scale shape: the corpus-sized work
        // is ONE tokenize scan + a map-combined groupBy into (tok,
        // freq) — bounded by |vocab|, localCheckpoint'd — and all
        // training rounds run on that small table (each round a
        // bounded 1-row argmax job, the tx ratio-totals precedent).
        // Semantics in TextOps.bpeTrain; the oracle unrolls the same
        // rounds as CTEs with the learned pair flowing through scalar
        // subqueries.
        import s.implicits._
        graft.functions.TextNorm.register(s)
        val wf = docs(s, dir).select(TextOps.bpeBody(col("text")).as("_b"))
          .select(explode(split(col("_b"), "#")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
          .localCheckpoint()
        TextOps.bpeTrain(wf, 4)
          .toDF("round", "left_sym", "right_sym", "n")
          .select(col("round").cast("long").as("round"),
            col("left_sym"), col("right_sym"), col("n"))
          .orderBy(col("round"))
      },
      Some(TextOps.bpeTrainOracleSql(
        s"""SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM (
           |    SELECT unnest(list_filter(
           |        str_split(${TextOps.bpeBodySql}, '#'), x -> x != ''))
           |      AS tok
           |    FROM documents) GROUP BY tok""".stripMargin, 4))),

    CatalogQuery(
      "tx27_tokenizer_fertility",
      "Tokenizer fertility report per language: BPE tokens per whitespace word and characters per token from tx25's merge chain, aggregated by lang — the multilingual-fairness audit (a language with 2x fertility pays 2x context budget) run before committing a tokenizer",
      (s, dir) => {
        // The standard multilingual tokenizer audit (fertility =
        // subword tokens emitted per word): languages the merge table
        // under-serves show high fertility and systematically lose
        // effective context length. Per-doc counts are tx25's exact
        // arithmetic (shared expressions, so the two reports cannot
        // drift); the aggregate is ONE map-combined groupBy on lang
        // (|langs| rows) — corpus-sized work is the same single
        // codegen'd projection scan as tx25, no extra shuffle.
        graft.functions.TextNorm.register(s)
        val body = TextOps.bpeBody(col("text"))
        val enc = TextOps.bpeEncode(body)
        docs(s, dir)
          .select(col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_words"),
            body.as("_body"), enc.as("_enc"))
          .select(col("lang"), col("n_words"),
            length(replace(col("_body"), lit("#"), lit(""))).cast("long")
              .as("n_sym"),
            (length(col("_enc"))
              - length(replace(col("_enc"), lit("|"), lit(""))) - 1
              - (length(col("_body"))
                 - length(replace(col("_body"), lit("#"), lit("")))))
              .cast("long").as("n_tok"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tok")).as("n_tokens"),
            round(sum(col("n_tok")) * lit(1e6) / sum(col("n_words")))
              .cast("long").as("fertility_e6"),
            round(sum(col("n_sym")) * lit(1e6) / sum(col("n_tok")))
              .cast("long").as("chars_per_tok_e6"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH b AS (
             |  SELECT lang,
             |    CAST(len(regexp_split_to_array(trim(text), '\\s+'))
             |      AS BIGINT) AS n_words,
             |    ${TextOps.bpeBodySql} AS body
             |  FROM documents),
             |c AS (SELECT lang, n_words, body,
             |    ${TextOps.bpeEncodeSql("body")} AS enc
             |  FROM b),
             |e AS (SELECT lang, n_words,
             |    CAST(length(replace(body, '#', '')) AS BIGINT) AS n_sym,
             |    CAST(length(enc) - length(replace(enc, '|', ''))
             |      - 1 - (length(body) - length(replace(body, '#', '')))
             |      AS BIGINT) AS n_tok
             |  FROM c)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_words) AS BIGINT) AS n_words,
             |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             |  CAST(round(sum(n_tok) * 1000000.0 / sum(n_words)) AS BIGINT)
             |    AS fertility_e6,
             |  CAST(round(sum(n_sym) * 1000000.0 / sum(n_tok)) AS BIGINT)
             |    AS chars_per_tok_e6
             |FROM e GROUP BY lang ORDER BY lang""".stripMargin)),
  )
}
