package graft.engine.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine.{QueryDef, Tables}

/**
 * Text analysis for training-data pipelines (builder brief): language ID,
 * quality scoring, token counting, document fingerprinting — all over the
 * documents table, all as codegen-friendly built-ins (no UDFs), all
 * embarrassingly parallel per row (the 100 TB property: map-only until the
 * final bounded aggregation/sort).
 */
object TextOps {

  private val toks = split(col("text"), " ")

  /** (doc_id, lang, t): per-document DISTINCT tokens — the shared
    * tokenize+explode front end of q114 (OOV docs), q136 (co-occurrence
    * lift) and q140 (chi² features), so the corpus tokenize pass runs once
    * per run. Consumers that don't need `lang` project it away; the frame
    * is postings-sized (one row per distinct token occurrence). */
  private[ops] def distinctTokens(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.shared(s, dir, "distinctTokens") {
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(array_distinct(toks)).as("t"))
    }

  /** The top-100 vocabulary by document frequency (t, df): q136 and q140
    * collect the IDENTICAL bounded aggregate (df over [[distinctTokens]],
    * top-100 by (df desc, t)), so the corpus-wide frequency aggregation
    * runs once per run. ≤ 100 rows by construction. */
  private[ops] def topVocab(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.shared(s, dir, "topVocab") {
      distinctTokens(s, dir)
        .groupBy("t").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("t")).limit(100)
    }

  /** (doc_id, term, tf): full-token per-document term frequencies — the
    * shared aggregate of q101 (TF-IDF; its df/N derive from it) and q118
    * (BM25; its dl/df/avgdl derive from it), so the corpus explode +
    * (doc_id, term) shuffle runs once per run. */
  private[ops] def termFreq(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.engine.CacheReaper.shared(s, dir, "termFreq") {
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    }

  // Fixed marker-token profiles for the n-gram/stopword language heuristic.
  // (The corpus vocabulary is synthetic; profiles are arbitrary but FIXED —
  // what matters is the operator shape: per-doc profile scores → argmax.)
  private val profiles = Seq(
    "en" -> Seq("the", "a", "fast", "data"),
    "de" -> Seq("table", "row", "group", "order"),
    "fr" -> Seq("query", "join", "filter", "stream"))

  // --- q43: language identification (profile-score argmax) ----------------
  // Output is the (actual lang × predicted lang) confusion matrix.
  private val q43 = QueryDef(
    "q43_text_langid", {
      val scores = profiles.map { case (l, ws) =>
        val inList = ws.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(string_split(text, ' '), t -> list_contains($inList, t))) AS s_$l"
      }.mkString(", ")
      s"""WITH scored AS (SELECT lang, $scores FROM documents)
         |SELECT lang, CASE
         |    WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |    WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred,
         |  COUNT(*) AS n_docs
         |FROM scored GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
    }) { (s, dir) =>
    val scored = profiles.foldLeft(Tables.table(s, dir, "documents")) {
      case (df, (l, ws)) =>
        val inList = ws.map(w => s"'$w'").mkString("array(", ",", ")")
        df.withColumn(s"s_$l",
          expr(s"size(filter(split(text, ' '), t -> array_contains($inList, t)))"))
    }
    scored
      .withColumn("pred",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_fr"), "de").otherwise("fr"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred")
  }

  // --- q44: per-document quality scoring ----------------------------------
  // Ratios are exact decimal divisions (never rounded doubles), so both
  // engines agree bit-for-bit; quality is a fixed linear combination.
  private val q44 = QueryDef(
    "q44_text_quality",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS l,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |    len(list_filter(string_split(text, ' '),
      |        t -> list_contains(['the','a','of','and'], t))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_tokens,
      |  CAST(CAST(CAST(n_distinct AS DECIMAL(18,6)) / n_tokens AS DECIMAL(38,6)) AS DOUBLE) AS ttr,
      |  CAST(CAST(CAST(n_stop AS DECIMAL(18,6)) / n_tokens AS DECIMAL(38,6)) AS DOUBLE) AS stop_ratio,
      |  CAST(CAST(CAST(list_sum(list_transform(l, x -> length(x))) AS DECIMAL(18,6)) / n_tokens AS DECIMAL(38,6)) AS DOUBLE) AS avg_tok_len,
      |  CAST(CAST(CAST(CAST(n_distinct AS DECIMAL(18,6)) / n_tokens AS DECIMAL(38,6))
      |     - CAST(CAST(n_stop AS DECIMAL(18,6)) / n_tokens AS DECIMAL(38,6)) AS DECIMAL(38,6)) AS DOUBLE) AS quality
      |FROM t ORDER BY doc_id LIMIT 200""".stripMargin) { (s, dir) =>
    val nTokens = size(toks)
    val nDistinct = size(array_distinct(toks))
    val nStop = expr("size(filter(split(text, ' '), t -> array_contains(array('the','a','of','and'), t)))")
    // sum of per-token lengths ≡ the non-space character count (split on
    // EVERY single space keeps empties, which contribute 0) — a codegen'd
    // builtin instead of the interpreted HOF fold it replaced (r08); the
    // oracle keeps the list_sum formulation, so hash parity PROVES the
    // identity on the corpus
    val sumLen = length(expr("replace(text, ' ', '')"))
    def ratio(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      (a.cast("decimal(18,6)") / b).cast("decimal(38,6)")
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"),
        ratio(nDistinct, nTokens).cast("double").as("ttr"),
        ratio(nStop, nTokens).cast("double").as("stop_ratio"),
        ratio(sumLen, nTokens).cast("double").as("avg_tok_len"),
        (ratio(nDistinct, nTokens) - ratio(nStop, nTokens))
          .cast("decimal(38,6)").cast("double").as("quality"))
      .orderBy("doc_id").limit(200)
  }

  // --- q45: token counting — whitespace vs BPE-ish regex ------------------
  // Regex stays in class/alternation territory shared by java.util.regex
  // and RE2 so both engines tokenize identically.
  private val q45 = QueryDef(
    "q45_text_tokencount",
    """SELECT lang,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .groupBy("lang")
      .agg(
        sum(size(toks)).as("ws_tokens"),
        sum(size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))).as("re_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  // --- q46: document fingerprint (rolling hash over tokens) ---------------
  // Polynomial fold with fixed base/modulus over per-token codes — pure
  // arithmetic, so the SAME fingerprint comes out of any engine (unlike
  // murmur/xxhash). The fold is a per-row O(tokens) map — no shuffle at all
  // until the output sort.
  private val q46 = QueryDef(
    "q46_text_fingerprint",
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' '),
      |                     t -> CAST(ascii(substr(t, 1, 1)) * 31 + length(t) AS BIGINT))),
      |    (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin) { (s, dir) =>
    // The native codegen expression (r08; q46 predated it and still ran
    // the interpreted CodegenFallback lambda + two intermediate arrays per
    // row). Bit-identical by construction AND by test: RollingFingerprint
    // is equality-pinned against exactly this lambda formulation on the
    // corpus, boundary fixtures, and randomized messy text
    // (GraftFunctionsSpec, NativeExprPropSpec).
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        graft.engine.expr.RollingFingerprint.of(col("text")).as("fingerprint"))
      .orderBy("doc_id").limit(200)
  }

  // --- q78: decontamination against an eval set (n-gram overlap) ----------
  // Every training pipeline removes documents overlapping its benchmark
  // sets. The eval set here is docs with doc_id < 10; a training doc is
  // contaminated if it shares ANY hashed 3-gram shingle with the eval set.
  // Scale shape: the eval shingle set is tiny → broadcast semi-join against
  // the corpus postings (map-only explode, no all-pairs); at real scale the
  // eval set stays broadcastable by construction (benchmarks are small).
  // Shingles are the engine-portable hashes, so the oracle reproduces the
  // identical contamination verdicts.
  private val q78 = QueryDef(
    "q78_decontaminate",
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, lang, list_distinct(list_transform(range(1, len(l) - 1),
      |    i -> (((CAST(ascii(substr(l[i],1,1))*31 + length(l[i]) AS BIGINT)) * 131
      |          + (ascii(substr(l[i+1],1,1))*31 + length(l[i+1]))) * 131
      |          + (ascii(substr(l[i+2],1,1))*31 + length(l[i+2]))) % 1000000007)) AS sh
      |  FROM t),
      |ev AS (SELECT DISTINCT unnest(sh) AS esh FROM sh WHERE doc_id < 10),
      |cont AS (SELECT DISTINCT doc_id
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id >= 10) p
      |  JOIN ev ON p.s = ev.esh)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont) THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
      |FROM sh WHERE doc_id >= 10
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    import graft.functions.GraftFunctions
    val sh = Tables.table(s, dir, "documents")
      .withColumn("l", split(col("text"), " "))
      .where(size(col("l")) >= 3)
      .select(col("doc_id"), col("lang"), GraftFunctions.hashedShingles("l").as("sh"))
    val evalShingles = sh.where(col("doc_id") < 10)
      .select(explode(col("sh")).as("esh")).distinct()
    val contaminated = sh.where(col("doc_id") >= 10)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(evalShingles), col("s") === col("esh"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("is_cont", lit(1))
    sh.where(col("doc_id") >= 10)
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_cont").isNotNull, 1).otherwise(0)).as("n_contaminated"),
        sum(when(col("is_cont").isNull, 1).otherwise(0)).as("n_clean"))
      .orderBy("lang")
  }

  // --- q79: pattern redaction (PII-scrub shape) ----------------------------
  // The scrub operator every pipeline runs before training: replace every
  // match of a pattern with a mask and account for what was removed. The
  // corpus has no digits, so the stand-in pattern is a character class
  // ([aeiou]+) — the operator shape (global regexp_replace + span
  // accounting, map-only until the final bounded agg) is what matters; the
  // class-only regex behaves identically in both engines' dialects.
  private val q79 = QueryDef(
    "q79_text_redact",
    """SELECT lang,
      |  CAST(SUM(len(regexp_extract_all(text, '[aeiou]+'))) AS BIGINT) AS n_spans,
      |  CAST(SUM(length(text)) AS BIGINT) AS chars_before,
      |  CAST(SUM(length(regexp_replace(text, '[aeiou]+', '#', 'g'))) AS BIGINT) AS chars_after
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .groupBy("lang")
      .agg(
        sum(size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))).as("n_spans"),
        sum(length(col("text"))).as("chars_before"),
        sum(length(regexp_replace(col("text"), "[aeiou]+", "#"))).as("chars_after"))
      .orderBy("lang")
  }

  // --- q100: repetition-based quality filter (Gopher-style) ---------------
  // The MassiveText/Gopher family of repetition rules: documents dominated
  // by repeated n-grams are boilerplate/spam and get filtered before
  // training. Per doc: duplicate-bigram count, most-frequent-bigram count,
  // adjacent-token repeats — all EXACT integers, thresholds applied by
  // integer cross-multiplication (dup*20 > n_bigrams ⇔ frac > 5%) so no
  // float division exists anywhere. Map-only per row (the per-row
  // top-bigram scan is O(L²) in doc length — bounded by the tokenizer's
  // max-doc-length guard at ingest, never by corpus size).
  private val q100 = QueryDef(
    "q100_repetition_filter",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |b AS (SELECT doc_id, len(l) AS n,
      |    list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]) AS bg,
      |    len(list_filter(range(1, len(l)), i -> l[i] = l[i+1])) AS rep_adj
      |  FROM t WHERE len(l) >= 2),
      |m AS (SELECT doc_id, n, len(bg) AS n_bigrams,
      |    len(bg) - len(list_distinct(bg)) AS dup_bigrams,
      |    list_max(list_transform(list_distinct(bg),
      |      d -> len(list_filter(bg, x -> x = d)))) AS top_bigram_n,
      |    rep_adj
      |  FROM b)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |  CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |  CAST(dup_bigrams AS BIGINT) AS dup_bigrams,
      |  CAST(top_bigram_n AS BIGINT) AS top_bigram_n,
      |  CAST(rep_adj AS BIGINT) AS rep_adjacent,
      |  CASE WHEN dup_bigrams * 20 > n_bigrams OR rep_adj * 20 >= n
      |       THEN 'filtered' ELSE 'kept' END AS verdict
      |FROM m ORDER BY doc_id LIMIT 250""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .withColumn("l", toks)
      .where(size(col("l")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(l) - 1), i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"))
      .withColumn("rep_adj", expr(
        "size(filter(sequence(1, size(l) - 1), i -> element_at(l, i) = element_at(l, i + 1)))"))
      .select(col("doc_id"),
        size(col("l")).cast("long").as("n_tokens"),
        size(col("bg")).cast("long").as("n_bigrams"),
        (size(col("bg")) - size(array_distinct(col("bg")))).cast("long").as("dup_bigrams"),
        expr("array_max(transform(array_distinct(bg), d -> size(filter(bg, x -> x = d))))")
          .cast("long").as("top_bigram_n"),
        col("rep_adj").cast("long").as("rep_adjacent"))
      .withColumn("verdict",
        when(col("dup_bigrams") * 20 > col("n_bigrams")
          || col("rep_adjacent") * 20 >= col("n_tokens"), "filtered")
          .otherwise("kept"))
      .orderBy("doc_id").limit(250)
  }

  // --- q114: out-of-vocabulary outlier docs --------------------------------
  // Tokenizer-vocabulary screening: the working vocabulary is every token
  // covering ≥10% of documents (df·10 ≥ N); docs carrying any token
  // OUTSIDE it are vocabulary outliers (in curation terms: candidate
  // gibberish / contamination / wrong-language slices to route to review).
  // Shape: one shuffle to aggregate per-token df; the corpus size is a
  // broadcast 1-row aggregate and the OOV vocabulary is broadcast back
  // against the exploded tokens (a vocabulary is agg-bounded — always
  // orders of magnitude smaller than the corpus), so the per-doc count is
  // the explode's shuffle and nothing else.
  private val q114 = QueryDef(
    "q114_oov_docs",
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
      |df AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY 1),
      |oov AS (SELECT t FROM df, (SELECT COUNT(*) AS n FROM documents) c WHERE df * 10 < n),
      |per AS (SELECT k.doc_id, COUNT(*) AS n_tok, COUNT(o.t) AS n_oov
      |        FROM tok k LEFT JOIN oov o ON k.t = o.t GROUP BY k.doc_id)
      |SELECT doc_id, n_tok, n_oov FROM per WHERE n_oov > 0
      |ORDER BY doc_id LIMIT 300""".stripMargin) { (s, dir) =>
    val docs = Tables.table(s, dir, "documents")
    val tok = distinctTokens(s, dir).select("doc_id", "t") // shared frame
    val n = docs.agg(count(lit(1)).as("n"))
    val oov = tok.groupBy("t").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .where(col("df") * 10 < col("n"))
      .select(col("t").as("o_t"))
    tok.join(broadcast(oov), col("t") === col("o_t"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), count(col("o_t")).as("n_oov"))
      .where(col("n_oov") > 0)
      .orderBy("doc_id").limit(300)
  }

  // --- q118: BM25 keyword retrieval ----------------------------------------
  // Corpus search for curation ("find the docs about X to audit"): BM25
  // (k1=1.2, b=0.75) over a 3-term query, the query itself data-derived
  // (the 3 rarest vocabulary terms — deterministic in both engines).
  // Portability recipe: the idf is the LINEAR ratio (N−df+0.5)/(df+0.5)
  // (no ln — the q101 trick), every factor is cast to double before an
  // IDENTICAL expression tree in both engines, and each per-term score is
  // quantized to integer micros BEFORE the per-doc sum (the q97 trick:
  // integer partial sums are partition-order-free, so Spark's agg order
  // can't produce a different double than DuckDB's). Shape: tf/dl/df are
  // the corpus aggregates; the query table and corpus stats broadcast.
  private val q118 = QueryDef(
    "q118_bm25_topk",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
      |df AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tok GROUP BY 1),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |qt AS (SELECT t, df FROM df ORDER BY df, t LIMIT 3),
      |term AS (
      |  SELECT f.doc_id,
      |    CAST(ROUND(((st.n - q.df + 0.5) / (q.df + 0.5))
      |      * ((CAST(f.tf AS DOUBLE) * 2.2)
      |         / (CAST(f.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (d.dl / st.avgdl))))
      |      * 1000000.0) AS BIGINT) AS micros
      |  FROM tf f JOIN qt q ON f.t = q.t JOIN dl d ON f.doc_id = d.doc_id, st)
      |SELECT doc_id, COUNT(*) AS n_hit_terms, CAST(SUM(micros) AS BIGINT) AS score_micros
      |FROM term GROUP BY doc_id
      |ORDER BY score_micros DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
    // tf is the family-shared termFreq frame (q101's tfc is the
    // identical aggregate).
    val tf = termFreq(s, dir).select(col("doc_id"), col("term").as("t"), col("tf"))
    // dl and df derive FROM tf (dl = Σtf per doc; df = tf-row count per
    // term, since (doc_id, t) is unique there): all three stats then share
    // tf's exchange (ReuseExchange), so the corpus explode+shuffle runs
    // once instead of once per statistic (r05)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).cast("double").as("dl"))
    val dfq = tf.groupBy("t")
      .agg(count(lit(1)).cast("double").as("df"))
    val st = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qt = dfq.orderBy("df", "t").limit(3)
      .select(col("t").as("q_t"), col("df"))
    val idf = (col("n") - col("df") + 0.5) / (col("df") + 0.5)
    val tfPart = (col("tf").cast("double") * 2.2) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * (col("dl") / col("avgdl"))))
    tf.join(broadcast(qt), col("t") === col("q_t"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("micros", round(idf * tfPart * 1000000.0).cast("bigint"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(col("micros")).cast("bigint").as("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id")).limit(10)
  }

  // --- q119: the curation pipeline (composed keep/drop manifest) -----------
  // The capstone composition: what a production corpus filter actually
  // ships — every doc classified by the FIRST failing gate, in pipeline
  // order: too_short (< 15 tokens) → low_quality (q44's signal,
  // quality < 1/4 by integer cross-multiplication) → repetitive (q100's
  // dup-bigram/adjacent-repeat rule) → near_dup (non-survivor of the
  // 5-token lede-fingerprint group, q70's key — min doc_id survives) →
  // kept. Every gate is portable arithmetic, so the whole manifest
  // oracle-checks. All classes non-empty at every sf (kept is the
  // majority — a filter that rejects most of its corpus is mistuned).
  // Shape: one shuffle (the survivor window on head_fp); every other
  // gate is map-only — the 100 TB manifest is a single pass.
  private val q119 = QueryDef(
    "q119_curation_pipeline",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS l,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split(text, ' ')[1:5],
      |        x -> CAST(ascii(substr(x,1,1))*31 + length(x) AS BIGINT))),
      |      (acc, v) -> (acc*131 + v) % 1000000007) AS head_fp
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, head_fp, len(l) AS n,
      |    len(list_distinct(l)) AS nd,
      |    len(list_filter(l, x -> list_contains(['the','a','of','and'], x))) AS ns,
      |    len(l) - 1 AS nb,
      |    (len(l) - 1) - len(list_distinct(list_transform(range(1, len(l)),
      |        i -> l[i] || ' ' || l[i+1]))) AS dup_bg,
      |    len(list_filter(range(1, len(l)), i -> l[i] = l[i+1])) AS rep_adj
      |  FROM t),
      |surv AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY head_fp) AS canon FROM f)
      |SELECT f.doc_id, CAST(f.n AS BIGINT) AS n_tokens,
      |  CASE WHEN f.n < 15 THEN 'too_short'
      |       WHEN (f.nd - f.ns) * 4 < f.n THEN 'low_quality'
      |       WHEN f.dup_bg * 20 > f.nb OR f.rep_adj * 20 >= f.n THEN 'repetitive'
      |       WHEN s.canon <> f.doc_id THEN 'near_dup'
      |       ELSE 'kept' END AS verdict
      |FROM f JOIN surv s ON f.doc_id = s.doc_id
      |ORDER BY f.doc_id LIMIT 600""".stripMargin) { (s, dir) =>
    val base = Tables.table(s, dir, "documents")
      .withColumn("l", toks)
      .select(col("doc_id"), col("l"),
        graft.functions.GraftFunctions.headFingerprint("text", 5).as("head_fp"),
        size(col("l")).as("n"),
        size(array_distinct(col("l"))).as("nd"),
        expr("size(filter(l, x -> array_contains(array('the','a','of','and'), x)))").as("ns"),
        (size(col("l")) - 1).as("nb"),
        // sequence(1, 0) turns DESCENDING on single-token docs and
        // element_at(l, 0) then throws — guard with the same size>=2 rule
        // DuckDB's empty range(1, 1) applies implicitly (both gates are 0
        // for a 1-token doc either way)
        when(size(col("l")) >= 2,
          expr("""size(l) - 1 - size(array_distinct(transform(sequence(1, size(l) - 1),
                 |  i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))))""".stripMargin))
          .otherwise(0).as("dup_bg"),
        when(size(col("l")) >= 2,
          expr("size(filter(sequence(1, size(l) - 1), i -> element_at(l, i) = element_at(l, i + 1)))"))
          .otherwise(0).as("rep_adj"))
    val w = Window.partitionBy("head_fp")
    base.withColumn("canon", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        when(col("n") < 15, "too_short")
          .when((col("nd") - col("ns")) * 4 < col("n"), "low_quality")
          .when(col("dup_bg") * 20 > col("nb")
            || col("rep_adj") * 20 >= col("n"), "repetitive")
          .when(col("canon") =!= col("doc_id"), "near_dup")
          .otherwise("kept").as("verdict"))
      .orderBy("doc_id").limit(600)
  }

  // --- q120: BPE pair statistics (the first merge iteration) ---------------
  // Tokenizer design starts with exactly this table: corpus-weighted
  // counts of adjacent character pairs inside tokens (what byte-pair
  // encoding merges first). Map-side double explode (tokens, then
  // in-token positions) collapses into a partial aggregate over the tiny
  // |alphabet|² pair domain — the shuffle carries pairs, not characters.
  private val q120 = QueryDef(
    "q120_bpe_pair_stats",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |pairs AS (SELECT substr(t, CAST(i AS INTEGER), 2) AS pair
      |          FROM tok, unnest(range(1, length(t))) AS u(i) WHERE length(t) >= 2)
      |SELECT pair, COUNT(*) AS n FROM pairs GROUP BY 1
      |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.table(s, dir, "documents")
      .select(explode(toks).as("t"))
      .where(length(col("t")) >= 2)
      .select(col("t"), explode(expr("sequence(1, length(t) - 1)")).as("i"))
      .select(expr("substring(t, i, 2)").as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  // --- q136: token co-occurrence lift --------------------------------------
  // Association mining over the corpus: for the 100 most frequent tokens,
  // the pairwise lift n_ab·N / (n_a·n_b) — the rational-arithmetic stand-in
  // for PMI (no ln, so the decimal chain is exact cross-engine). Scale
  // discipline: the pair self-join happens ONLY inside the top-100
  // vocabulary (a broadcast semi-join prunes the postings first), so the
  // pair space is ≤ C(100,2) keys regardless of corpus size, and per-doc
  // pair fanout is bounded by tokens-per-doc². All integer products stay
  // under 1e10 ≪ int64.
  private val q136 = QueryDef(
    "q136_token_lift",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
      |freq AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
      |top AS (SELECT t, n FROM freq ORDER BY n DESC, t LIMIT 100),
      |pairs AS (
      |  SELECT a.t AS ta, b.t AS tb, COUNT(*) AS n_ab
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
      |  WHERE a.t IN (SELECT t FROM top) AND b.t IN (SELECT t FROM top)
      |  GROUP BY a.t, b.t),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT p.ta, p.tb, CAST(p.n_ab AS BIGINT) AS n_ab,
      |  CAST(CAST(CAST(p.n_ab * nd.n_docs AS DECIMAL(18,6)) / (fa.n * fb.n) AS DECIMAL(38,6)) AS DOUBLE) AS lift
      |FROM pairs p JOIN top fa ON p.ta = fa.t JOIN top fb ON p.tb = fb.t, nd
      |ORDER BY n_ab DESC, ta, tb LIMIT 100""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    val tok = distinctTokens(s, dir).select("doc_id", "t") // shared frame
    // Bounded collect-for-broadcast (the BloomFilter precedent): the top-100
    // vocabulary is ≤ 100 rows BY CONSTRUCTION, and materializing it once
    // means the corpus-wide frequency agg runs ONE scan instead of being
    // re-executed for the semi-join and both lift joins (Spark does not
    // reuse broadcast exchanges across different projections of a subplan).
    // The aggregate itself is the family-shared topVocab frame (q140
    // collects the identical one).
    val topRows = topVocab(s, dir)
      .as[(String, Long)].collect().toSeq
    val top = topRows.toDF("t", "n")
    val pruned = tok.join(broadcast(top.select("t")), Seq("t"), "left_semi")
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
      .agg(count(lit(1)).as("n_ab"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(broadcast(top.select(col("t").as("ta"), col("n").as("na"))), Seq("ta"))
      .join(broadcast(top.select(col("t").as("tb"), col("n").as("nb"))), Seq("tb"))
      .crossJoin(broadcast(nDocs))
      .select(col("ta"), col("tb"), col("n_ab"),
        ((col("n_ab") * col("n_docs")).cast("decimal(18,6)") /
          (col("na") * col("nb"))).cast("decimal(38,6)")
          .cast("double").as("lift"))
      .orderBy(col("n_ab").desc, col("ta"), col("tb")).limit(100)
  }

  // --- q140: chi-square token↔language feature selection -------------------
  // For the top-100 tokens (q136's bounded vocabulary), the 2×2-contingency
  // chi² statistic of token-presence vs language over per-doc distinct
  // tokens — the classic supervised feature-selection score ranking which
  // tokens are language-discriminative. Cross-engine exactness: the
  // contingency cells (a, R, C, N) are exact integer counts; (a·d − b·c)
  // stays in BIGINT (|·| ≤ N², exact to N ≈ 3e9); the statistic is ONE
  // fixed-shape double expression over those exact integers, so both
  // engines produce the identical double and the identical floor — the
  // float hazard is reduction order, and nothing float is ever summed.
  // Cells with R = N or C = N (token in every doc / single-language
  // corpus) are excluded — chi² is undefined there (zero denominator).
  // Scale: the vocabulary is collected once (≤ 100 rows BY CONSTRUCTION —
  // the q136 precedent); one postings scan builds df, one semi-join-pruned
  // scan builds the (token, lang) cells ≤ 100·|langs| rows; nothing
  // pairwise, nothing unbounded on the driver.
  private val q140 = QueryDef(
    "q140_chi2_feature",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY t),
      |top AS (SELECT t, r FROM df ORDER BY r DESC, t LIMIT 100),
      |langs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY lang),
      |a AS (
      |  SELECT tok.t, d.lang, CAST(COUNT(*) AS BIGINT) AS a
      |  FROM tok JOIN documents d USING (doc_id)
      |  WHERE tok.t IN (SELECT t FROM top)
      |  GROUP BY tok.t, d.lang),
      |cells AS (
      |  SELECT top.t, langs.lang, top.r, langs.c, COALESCE(a.a, 0) AS a, nn.n
      |  FROM top CROSS JOIN langs LEFT JOIN a ON a.t = top.t AND a.lang = langs.lang, nn
      |  WHERE top.r < nn.n AND langs.c < nn.n)
      |SELECT t, lang, CAST(a AS BIGINT) AS n_t_lang,
      |  CAST(FLOOR((1000000.0 * CAST(n AS DOUBLE) *
      |       CAST(a * (n - r - c + a) - (r - a) * (c - a) AS DOUBLE) *
      |       CAST(a * (n - r - c + a) - (r - a) * (c - a) AS DOUBLE)) /
      |      (CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n - c AS DOUBLE)))
      |    AS BIGINT) AS chi2_micro
      |FROM cells
      |ORDER BY chi2_micro DESC, t, lang LIMIT 50""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables.table(s, dir, "documents")
    // lang rides along through tokenization — the oracle joins tok back to
    // documents on doc_id, but result-equivalence doesn't require the plan
    // to: carrying the label avoids a corpus-size shuffle join entirely.
    // The tokenized frame and the top-100 aggregate are the
    // family-shared frames (see distinctTokens/topVocab).
    val tok = distinctTokens(s, dir)
    // Bounded collect (q136 precedent): ≤ 100 rows by construction; one
    // corpus scan serves both the semi-join prune and the cell row totals.
    val topRows = topVocab(s, dir)
      .as[(String, Long)].collect().toSeq
    val top = topRows.toDF("t", "r")
    val langs = docs.groupBy("lang").agg(count(lit(1)).as("c"))
    val nn = docs.agg(count(lit(1)).as("n"))
    val aDf = tok.join(broadcast(top.select("t")), Seq("t"), "left_semi")
      .groupBy("t", "lang").agg(count(lit(1)).as("a"))
    // aDf is ≤ |top|·|langs| rows BY CONSTRUCTION (grouped on a semi-join
    // against the 100-token vocab) — broadcast is safe at any corpus size.
    broadcast(top).crossJoin(broadcast(langs))
      .join(broadcast(aDf), Seq("t", "lang"), "left")
      .crossJoin(broadcast(nn))
      .select(col("t"), col("lang"), col("r"), col("c"),
        coalesce(col("a"), lit(0L)).as("a"), col("n"))
      .where(col("r") < col("n") && col("c") < col("n"))
      .select(col("t"), col("lang"), col("a").cast("bigint").as("n_t_lang"),
        expr(
          """CAST(FLOOR((1000000.0 * CAST(n AS DOUBLE) *
            |     CAST(a * (n - r - c + a) - (r - a) * (c - a) AS DOUBLE) *
            |     CAST(a * (n - r - c + a) - (r - a) * (c - a) AS DOUBLE)) /
            |    (CAST(r AS DOUBLE) * CAST(n - r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n - c AS DOUBLE)))
            |  AS BIGINT)""".stripMargin).as("chi2_micro"))
      .orderBy(col("chi2_micro").desc, col("t"), col("lang")).limit(50)
  }

  def defs: Seq[QueryDef] =
    Seq(q43, q44, q45, q46, q78, q79, q100, q114, q118, q119, q120, q136, q140)
}
