package graft.operators

import graft.core.{Decimals, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis suite over `documents` (north-star ops + Q-B8):
  * language-ID (stopword-overlap heuristic), quality scoring, token
  * counting (whitespace + regex), document fingerprinting (rolling hash),
  * exact per-group percentiles.
  *
  * All scoring arithmetic is decimal or integer so DuckDB reproduces it
  * bit-for-bit; regexes are kept to the common RE2/Java subset.
  */
object TextQueries {
  import Decimals._

  /** Greedy longest-match merge vocabulary for q_c22's subword (BPE-style)
    * token counting — single source of truth lives with the native
    * expression ([[graft.functions.SubwordCount.vocab]]); aliased here for
    * the HOF twin and the DuckDB oracle text.
    */
  private[graft] val bpeVocab: Seq[String] = graft.functions.SubwordCount.vocab

  /** q_c22's tokenizer as ONE Spark SQL expression (the SQL-text twin;
    * the DataFrame plan uses the codegen'd native
    * [[graft.functions.SubwordCount]], which SqlParitySpec cross-checks
    * against this form): per word (whitespace
    * pre-split, the GPT-2-style pre-tokenization), a linear fold over
    * character positions that consumes the LONGEST vocab entry matching
    * at the cursor (single char when none matches) and counts the
    * consumed units. The fold is `aggregate` over `sequence(1, len)`
    * with a (pos, cnt) struct accumulator — each element acts only when
    * it equals the cursor, so the greedy sequential scan stays a
    * codegen-friendly higher-order function, not a UDF, and the whole
    * doc count is a transform+aggregate with NO Generate (the explode
    * co-location hazard documented on q_c17 never arises).
    */
  private[graft] def subwordCountExpr(textCol: String): String = {
    val vocabArr = bpeVocab.map(v => s"'$v'").mkString("array(", ", ", ")")
    s"""aggregate(
       |  transform(filter(split(lower($textCol), ' '), w -> length(w) > 0), w ->
       |    aggregate(sequence(1, length(w)),
       |      named_struct('pos', 1, 'cnt', CAST(0 AS BIGINT)),
       |      (acc, i) -> IF(i = acc.pos,
       |        named_struct(
       |          'pos', acc.pos + coalesce(array_max(transform(
       |            filter($vocabArr, v -> substring(w, acc.pos, length(v)) = v),
       |            v -> length(v))), 1),
       |          'cnt', acc.cnt + CAST(1 AS BIGINT)),
       |        acc),
       |      acc -> acc.cnt)),
       |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin
  }

  /** Tiny public stopword profiles per language (heuristic lang-ID). */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in"),
    "es" -> Seq("el", "de", "la", "que", "en"),
    "fr" -> Seq("le", "de", "la", "et", "les"),
    "de" -> Seq("der", "die", "und", "das", "von"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  /** q_c5's stopword-overlap scoring as one shared projection —
    * (doc_id, lang, score_*, pred_lang) over a (doc_id, lang, text)
    * frame, the GOLD `lang` label carried through so consumers needing
    * (gold, predicted) never re-join the corpus. Shared by q_c5, q_c104's
    * confusion matrix, and the streaming twin
    * ([[graft.streaming.StreamingOps.langidUpdates]]) — one definition,
    * so the argmax/tie-break rules cannot fork.
    *
    * Argmax sorts (score, lang) structs DESC and takes the head — struct
    * ordering is lexicographic on both engines, so ties on score resolve
    * to the lexicographically GREATEST lang name (e.g. 'fr' beats 'es'
    * at equal score — LangidConfusionSpec pins it), exactly like
    * DuckDB's list_sort DESC in the shared oracle CTEs.
    */
  private[graft] def langidScored(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val t = docs.select(col("doc_id"), col("lang"),
      array_distinct(split(lower(col("text")), " ")).as("toks"))
    val scored = stopwords.toSeq.sortBy(_._1).foldLeft(t) { case (df, (lang, words)) =>
      df.withColumn(
        s"score_$lang",
        size(array_intersect(col("toks"), array(words.map(lit): _*))).cast("long"))
    }
    val best = scored.withColumn(
      "top",
      expr(
        "reverse(array_sort(" +
          langs.map(l => s"struct(score_$l AS s, '$l' AS l)").mkString("array(", ", ", ")") +
          "))[0]"))
    best
      .withColumn(
        "pred_lang",
        when(langs.map(l => col(s"score_$l")).reduce(_ + _) === 0, "und")
          .otherwise(col("top.l")))
      .select((Seq(col("doc_id"), col("lang")) ++
        langs.map(l => col(s"score_$l")) :+ col("pred_lang")): _*)
  }

  /** DuckDB CTE prefix (t, sc, b, p) of the lang-ID oracle — ONE text
    * shared by q_c5's per-document oracle and q_c104's confusion oracle
    * (`lang` is carried through; q_c5's final SELECT ignores it).
    */
  private def langidOracleCtes: String = {
    val scoreExprs = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_intersect(toks, $arr)) AS BIGINT) AS score_$lang"
    }
    val langs = stopwords.keys.toSeq.sorted
    val best = langs
      .map(l => s"score_$l")
      .zip(langs)
      .map { case (sc, l) => s"($sc, '$l')" }
      .mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, lang, list_distinct(string_split(lower(text), ' ')) AS toks
       |  FROM documents),
       |sc AS (SELECT doc_id, lang, ${scoreExprs.mkString(", ")} FROM t),
       |b AS (SELECT doc_id, lang, ${langs.map(l => s"score_$l").mkString(", ")},
       |  list_sort($best, 'DESC')[1] AS top FROM sc),
       |p AS (SELECT doc_id, lang, ${langs.map(l => s"score_$l").mkString(", ")},
       |  CASE WHEN ${langs.map(l => s"score_$l").mkString(" + ")} = 0
       |       THEN 'und' ELSE top[2] END AS pred_lang FROM b)""".stripMargin
  }

  /** DuckDB CTE chain (rt, rm) ending in `rm(doc_id, n_words, sumlen,
    * stop_hits, uniq)` — the oracle twin of [[rulesFlags]]' statistics,
    * ONE text shared by q_c31's and q_c117's oracles (names prefixed r*
    * to compose with the minhash/CC chains).
    */
  private[graft] lazy val duckRuleStats: String =
    """rt AS (
      |  SELECT doc_id, [w for w in string_split(lower(text), ' ') if len(w) > 0] AS ws
      |  FROM documents),
      |rm AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sumlen,
      |    CAST(len(list_intersect(ws, ['the','of','and','to','in'])) AS BIGINT) AS stop_hits,
      |    CAST(len(list_distinct(ws)) AS BIGINT) AS uniq
      |  FROM rt)""".stripMargin

  /** q_c31's Gopher-style rule flags as a projection that PRESERVES the
    * input columns (doc_id, source, text, …) and appends the stats and
    * flag columns — ONE rule definition shared by q_c31 and q_c117's
    * funnel attribution (a fork here would filter a different corpus
    * than the one reported).
    */
  private[graft] def rulesFlags(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> length(w) > 0)"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("sumlen", expr("aggregate(ws, 0L, (a, w) -> a + length(w))"))
      .withColumn("stop_hits",
        expr("CAST(size(array_intersect(ws, array('the','of','and','to','in'))) AS BIGINT)"))
      .withColumn("uniq", expr("CAST(size(array_distinct(ws)) AS BIGINT)"))
      .withColumn("r_words", when(col("n_words") >= 50, 1).otherwise(0))
      .withColumn("r_wlen", when(lit(3) * col("n_words") <= col("sumlen")
        && lit(2) * col("sumlen") <= lit(9) * col("n_words"), 1).otherwise(0))
      .withColumn("r_stop", when(col("stop_hits") >= 1, 1).otherwise(0))
      .withColumn("r_ttr",
        when(lit(5) * col("uniq") >= lit(2) * col("n_words"), 1).otherwise(0))
      .withColumn("pass", when(col("n_words") >= 50
        && lit(3) * col("n_words") <= col("sumlen")
        && lit(2) * col("sumlen") <= lit(9) * col("n_words")
        && col("stop_hits") >= 1
        && lit(5) * col("uniq") >= lit(2) * col("n_words"), 1).otherwise(0))
      .drop("ws", "sumlen", "stop_hits", "uniq")

  /** q_c104's report tail over a (lang, pred_lang, n_docs) cell frame —
    * ONE copy shared by the batch query and the streaming serve
    * ([[graft.streaming.StreamingOps.langidServe]]), so the integer
    * permille share rules cannot fork. The frame is ≤(|langs|+1)² rows;
    * both windows are trivial.
    */
  private[graft] def langidConfusionReport(
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wg = Window.partitionBy(col("lang"))
    val wp = Window.partitionBy(col("pred_lang"))
    cells
      .withColumn("gold_total", sum(col("n_docs")).over(wg).cast("long"))
      .withColumn("pred_total", sum(col("n_docs")).over(wp).cast("long"))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        col("gold_total"), col("pred_total"),
        expr("CAST(n_docs * 1000 DIV gold_total AS BIGINT)").as("share_of_gold_pm"),
        expr("CAST(n_docs * 1000 DIV pred_total AS BIGINT)").as("share_of_pred_pm"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val defs: Seq[graft.core.QueryDef] = Seq(
    // ---- Q-B8: exact percentiles per group -------------------------------
    QueryDef(
      "q_b8_percentiles",
      Some("""SELECT lang,
             |  COUNT(*) AS n_docs,
             |  CAST(CAST(quantile_cont(n_chars, 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS p25,
             |  CAST(CAST(quantile_cont(n_chars, 0.50) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
             |  CAST(CAST(quantile_cont(n_chars, 0.75) AS DECIMAL(18,6)) AS DOUBLE) AS p75
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("CAST(CAST(percentile(n_chars, 0.25) AS DECIMAL(18,6)) AS DOUBLE)").as("p25"),
          expr("CAST(CAST(percentile(n_chars, 0.50) AS DECIMAL(18,6)) AS DOUBLE)").as("p50"),
          expr("CAST(CAST(percentile(n_chars, 0.75) AS DECIMAL(18,6)) AS DOUBLE)").as("p75")
        )
        .orderBy(col("lang"))
    },

    // ---- q_c58: approximate percentiles — q_b8's 100 TB scale path -------
    // Exact per-group percentiles (q_b8) hold every group's values for a
    // sort — fine per-lang locally, unusable when a group spans TBs. The
    // scale path is a mergeable quantile sketch: Spark's built-in
    // approx_percentile (Greenwald-Khanna, accuracy parameter 10 000 ⇒
    // rank error ≤ 1/10 000) aggregates map-side partial sketches and
    // merges them — bounded memory per group regardless of group size,
    // the same partial/final shape as any hash aggregate. No DuckDB twin
    // by design (sketch state is engine-specific): rows-only here, with
    // ApproxPercentileSpec gating the sketch against q_b8's EXACT answers
    // (per-group rank error within the sketch's published bound) — a
    // stronger check than value-hashing an approximation would be.
    QueryDef("q_c58_percentiles_approx", None) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("CAST(approx_percentile(n_chars, 0.25, 10000) AS DOUBLE)").as("p25"),
          expr("CAST(approx_percentile(n_chars, 0.50, 10000) AS DOUBLE)").as("p50"),
          expr("CAST(approx_percentile(n_chars, 0.75, 10000) AS DOUBLE)").as("p75"))
        .orderBy(col("lang"))
    },

    // ---- language-ID: stopword-profile overlap, argmax with name tiebreak
    QueryDef(
      "q_c5_langid",
      Some {
        val langs = stopwords.keys.toSeq.sorted
        s"""$langidOracleCtes
           |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")}, pred_lang
           |FROM p ORDER BY doc_id""".stripMargin
      }
    ) { (s, d) =>
      val langs = stopwords.keys.toSeq.sorted
      langidScored(Tables(s, d, "documents"))
        .select((Seq(col("doc_id")) ++ langs.map(l => col(s"score_$l")) :+ col("pred_lang")): _*)
        .orderBy(col("doc_id"))
    },

    // ---- q_c104: language-ID confusion matrix vs the gold labels --------
    // The measurement a lang-ID heuristic is DEPLOYED against: the full
    // gold×predicted contingency over the corpus's stored `lang` labels,
    // with per-cell shares of the gold row (recall decomposition) and of
    // the predicted column (precision decomposition) in permille. q_c5
    // reports per-document scores; this reports whether the classifier
    // can be TRUSTED per language — which gold classes leak where, and
    // which predicted labels are polluted. Shares are integer permille
    // (DIV), so the whole frame is engine-exact.
    //
    // 100 TB shape: scoring is the q_c5 map-side projection with the
    // gold label carried through (no corpus self-join); ONE tiny
    // (lang, pred) groupBy with map-side combine; both totals are
    // windows over the ≤(|langs|+1)² cell frame. Cost = a scan.
    QueryDef(
      "q_c104_langid_confusion",
      Some(s"""$langidOracleCtes,
           |c AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           |      FROM p GROUP BY 1, 2)
           |SELECT lang, pred_lang, n_docs,
           |  CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS gold_total,
           |  CAST(SUM(n_docs) OVER (PARTITION BY pred_lang) AS BIGINT) AS pred_total,
           |  CAST(n_docs * 1000 // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_of_gold_pm,
           |  CAST(n_docs * 1000 // SUM(n_docs) OVER (PARTITION BY pred_lang) AS BIGINT) AS share_of_pred_pm
           |FROM c ORDER BY lang, pred_lang""".stripMargin)
    ) { (s, d) =>
      langidConfusionReport(
        langidScored(Tables(s, d, "documents"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).cast("long").as("n_docs")))
    },

    // ---- quality scoring: length/stopword/uniqueness ratios --------------
    QueryDef(
      "q_c6_quality",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS BIGINT) AS n_chars_actual,
             |    string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, n_chars_actual,
             |    CAST(len(toks) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
             |    CAST(len(list_intersect(toks, ['the','of','and','to','in','a','is'])) AS BIGINT) AS n_stop
             |  FROM t)
             |SELECT doc_id, n_chars_actual, n_tokens, n_uniq, n_stop,
             |  CAST(CAST(CAST(n_uniq AS DECIMAL(18,6)) / CAST(n_tokens AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS uniq_ratio,
             |  CAST(CAST(CAST(n_chars_actual AS DECIMAL(18,6)) / CAST(n_tokens AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS avg_token_len,
             |  (n_tokens >= 10 AND n_tokens <= 1000 AND n_uniq * 10 >= n_tokens * 3) AS passes_quality
             |FROM f ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      val t = Tables(s, d, "documents")
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_actual"),
          split(lower(col("text")), " ").as("toks")
        )
      t.select(
        col("doc_id"),
        col("n_chars_actual"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        size(
          array_intersect(
            col("toks"),
            array(Seq("the", "of", "and", "to", "in", "a", "is").map(lit): _*)
          )
        ).cast("long").as("n_stop")
      ).select(
        col("doc_id"),
        col("n_chars_actual"),
        col("n_tokens"),
        col("n_uniq"),
        col("n_stop"),
        emit((dec(col("n_uniq")) / dec(col("n_tokens"))).cast(D38)).as("uniq_ratio"),
        emit((dec(col("n_chars_actual")) / dec(col("n_tokens"))).cast(D38)).as("avg_token_len"),
        (col("n_tokens") >= 10 && col("n_tokens") <= 1000
          && col("n_uniq") * 10 >= col("n_tokens") * 3).as("passes_quality")
      ).orderBy(col("doc_id"))
    },

    // ---- token counting: whitespace + regex ("BPE-ish") ------------------
    QueryDef(
      "q_c7_token_count",
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS re_tokens,
             |  CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS uniq_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      Tables(s, d, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
            .cast("long")
            .as("re_tokens"),
          size(array_distinct(split(lower(col("text")), " ")))
            .cast("long")
            .as("uniq_tokens")
        )
        .orderBy(col("doc_id"))
    },

    // ---- q_c22: subword (BPE-style) token counting -----------------------
    // Real corpus pipelines budget by SUBWORD tokens, not whitespace
    // tokens: greedy longest-match tokenization of each word against a
    // fixed merge vocabulary (see [[bpeVocab]] / [[subwordCountExpr]]),
    // with fertility = subwords per whitespace token. Pure per-row
    // projection — the only shuffle is the terminal global sort. The
    // DuckDB oracle replays the identical greedy scan as a per-word
    // recursive CTE (depth = max word length), so the match is
    // hash-exact, not rows-only.
    QueryDef(
      "q_c22_subword_tokens",
      Some {
        val vocabList = bpeVocab.map(v => s"'$v'").mkString("[", ", ", "]")
        s"""WITH RECURSIVE
           |words AS (
           |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), w -> len(w) > 0)) AS w
           |  FROM documents),
           |f AS (
           |  SELECT doc_id, w, 1 AS pos, CAST(0 AS BIGINT) AS cnt FROM words
           |  UNION ALL
           |  SELECT doc_id, w, pos + ml, cnt + 1 FROM (
           |    SELECT doc_id, w, pos, cnt,
           |      COALESCE(list_max(list_transform(
           |        list_filter($vocabList, v -> substr(w, pos, len(v)) = v),
           |        v -> len(v))), 1) AS ml
           |    FROM f WHERE pos <= len(w))),
           |sub AS (
           |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS subword_tokens
           |  FROM f WHERE pos > len(w) GROUP BY doc_id),
           |ws AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split(lower(text), ' '), w -> len(w) > 0)) AS BIGINT) AS ws_tokens
           |  FROM documents)
           |SELECT ws.doc_id, ws.ws_tokens,
           |  COALESCE(sub.subword_tokens, CAST(0 AS BIGINT)) AS subword_tokens,
           |  CAST(CASE WHEN ws.ws_tokens = 0 THEN CAST(0 AS DECIMAL(38,6))
           |       ELSE CAST(CAST(COALESCE(sub.subword_tokens, 0) AS DECIMAL(18,6)) / CAST(ws.ws_tokens AS DECIMAL(18,6)) AS DECIMAL(38,6)) END AS DOUBLE) AS fertility
           |FROM ws LEFT JOIN sub USING (doc_id) ORDER BY ws.doc_id""".stripMargin
      }
    ) { (s, d) =>
      graft.functions.SubwordCount.register(s)
      Tables(s, d, "documents")
        .select(
          col("doc_id"),
          size(expr("filter(split(lower(text), ' '), w -> length(w) > 0)"))
            .cast("long").as("ws_tokens"),
          expr("subword_count(text)").as("subword_tokens"))
        .select(
          col("doc_id"),
          col("ws_tokens"),
          col("subword_tokens"),
          emit(
            when(col("ws_tokens") === 0, lit(0).cast(D38))
              .otherwise((dec(col("subword_tokens")) / dec(col("ws_tokens"))).cast(D38)))
            .as("fertility"))
        .orderBy(col("doc_id"))
    },

    // ---- document fingerprinting: full-text rolling hash -----------------
    QueryDef(
      "q_c8_fingerprint",
      Some("""WITH fp AS (
             |  SELECT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      [CAST(ascii(x) AS BIGINT) for x in string_split(text, '')]),
             |      (acc, ch) -> (acc * 31 + ch) % 1000000007) AS fingerprint
             |  FROM documents)
             |SELECT doc_id, fingerprint FROM fp ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      graft.functions.PolyHash.register(s)
      Tables(s, d, "documents")
        .select(
          col("doc_id"),
          // codegen'd twin of aggregate(split(text,''), ...) — identical
          // values (PolyHashSpec), one pass over the bytes instead of a
          // per-character HOF fold (optimization r19)
          expr("poly_hash(text)").as("fingerprint")
        )
        .orderBy(col("doc_id"))
    },

    // ---- q_c12: BM25 ranked retrieval ------------------------------------
    // Okapi BM25 (k1=1.2, b=0.75) of a fixed query against the corpus:
    // top-20 docs by score. Distributed shape: tf/df/dl are groupBy
    // aggregates; df and the 2-scalar corpus stats ride broadcasts into
    // the per-(doc,term) scoring join — no driver collect, no all-pairs.
    // Cross-engine determinism: every float literal and operation order is
    // spelled out identically on both sides, each per-term score is
    // rounded to DECIMAL(18,6) (ln's last-ulp wobble dies here), and the
    // final per-doc sum is EXACT decimal addition — order-free.
    QueryDef(
      "q_c12_bm25",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
             |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS tot FROM dl),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             |       WHERE term IN ('hash','join','filter') GROUP BY 1, 2),
             |dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
             |scored AS (
             |  SELECT t.doc_id,
             |    CAST(ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
             |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / (s.tot / s.n_docs)))
             |      AS DECIMAL(18,6)) AS tscore
             |  FROM tf t JOIN dl d USING (doc_id) JOIN dfq q USING (term) CROSS JOIN stats s)
             |SELECT doc_id, CAST(SUM(tscore) AS DOUBLE) AS bm25
             |FROM scored GROUP BY 1
             |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)
    ) { (s, d) =>
      val query = Seq("hash", "join", "filter")
      val toks = Tables(s, d, "documents").select(
        col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).cast("double").as("tot"))
      val tf = toks.filter(col("term").isin(query: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      tf.join(dl, Seq("doc_id"))
        .join(broadcast(dfq), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("tscore", dec(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("tot") / col("n_docs"))))))
        .groupBy(col("doc_id"))
        .agg(emit(sum(col("tscore"))).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },

    // ---- q_c26: unigram log-prob quality score (CCNet-style) -------------
    // The perplexity-filter step every corpus pipeline runs (CCNet and its
    // descendants score documents with an LM and drop the worst tail);
    // here the LM is the corpus's own unigram distribution, so the whole
    // op is SQL-expressible and hash-exact: avg_nll = Σ tf·(−ln p(term))
    // / n_tokens. Distributed shape: the corpus is tokenized ONCE into the
    // (doc, term) tf aggregate — doc length and vocab counts both derive
    // from tf by algebra (n_tokens = Σ_term tf, cnt = Σ_doc tf) — and tf
    // is persisted as an owned frame (the q_c9-corpus pattern, drained by
    // the harness after the query): plain plan sharing can't dedupe the
    // three consumers because each pushes different IsNotNull filters
    // into its scan subtree, which defeats ReuseExchange, so without the
    // persist this query would tokenize 100 TB three times
    // (PlanShapeSpec pins the single corpus scan). The vocab join shuffles on term
    // (Heaps-law bounded but NOT broadcastable at corpus scale), the 1-row
    // total rides a broadcast, the per-doc reduce shuffles on doc_id.
    // Cross-engine float discipline is q_c12's: each per-term product
    // quantizes through DECIMAL(18,6) (ln ulp wobble dies), the per-doc
    // sum is exact decimal, and the final mean divides D18/D18 through
    // DECIMAL(38,6) (the q_c22 fertility precedent).
    QueryDef(
      "q_c26_unigram_logprob",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
             |vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM vocab),
             |scored AS (
             |  SELECT t.doc_id,
             |    CAST(t.tf * -ln(CAST(v.cnt AS DOUBLE) / s.tot) AS DECIMAL(18,6)) AS tscore
             |  FROM tf t JOIN vocab v USING (term) CROSS JOIN tot s),
             |agg AS (SELECT doc_id, CAST(SUM(tscore) AS DECIMAL(18,6)) AS nll FROM scored GROUP BY 1)
             |SELECT d.doc_id, d.n_tokens,
             |  CAST(CAST(a.nll / CAST(d.n_tokens AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS avg_nll
             |FROM dl d JOIN agg a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)
    ) { (s, d) =>
      docNll(s, d).orderBy(col("doc_id"))
    },

    // ---- q_c30: hashed-bag-of-words linear quality classifier ------------
    // The fastText-style model-based filter step (hash tokens into D
    // buckets, score = mean of per-bucket linear weights, threshold into
    // keep/drop) that DCLM-class pipelines run at corpus scale. The model
    // here is deterministic so both engines evaluate it exactly: token →
    // q_c8's rolling char hash mod 64 buckets, bucket b → integer weight
    // ((b·1103515245 + 12345) mod 2048) − 1024 (an LCG draw in
    // [−1024, 1023], i.e. a fixed random weight vector scaled by 1024),
    // doc score = Σ weights / (n_tokens·1024) in exact decimal, verdict =
    // sign. Distributed shape: the entire classifier is ONE map-side
    // projection — nested HOF folds, no explode, no shuffle, no UDF —
    // the ideal 100 TB form (embarrassingly parallel; the only exchange
    // is the terminal presentation sort). A real learned model swaps the
    // weight EXPRESSION for a lookup table; the plan shape is identical.
    QueryDef(
      "q_c30_quality_classifier",
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents),
             |h AS (
             |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w ->
             |      ((list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          [CAST(ascii(x) AS BIGINT) for x in string_split(w, '')]),
             |        (acc, ch) -> (acc * 31 + ch) % 1000000007) % 64)
             |       * 1103515245 + 12345) % 2048 - 1024)),
             |      (a, x) -> a + x) AS wsum
             |  FROM t)
             |SELECT doc_id, n_tokens,
             |  CAST(CASE WHEN n_tokens = 0 THEN CAST(0 AS DECIMAL(38,6))
             |    ELSE CAST(CAST(wsum AS DECIMAL(18,6)) / CAST(n_tokens * 1024 AS DECIMAL(18,6)) AS DECIMAL(38,6)) END
             |    AS DOUBLE) AS score,
             |  CASE WHEN wsum > 0 THEN 'keep' ELSE 'drop' END AS cls
             |FROM h ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      classifierFinal(classifierRawShared(s, d)).orderBy(col("doc_id"))
    },

    // ---- q_c31: rules-based quality filter (Gopher-style) ----------------
    // The third member of the public filtering trio (rules / LM score /
    // classifier — q_c31 / q_c26 / q_c30): Gopher's heuristic document
    // rules, with thresholds adapted so every rule discriminates on this
    // corpus (measured sf0.01: n∈[10,99] med 56, mean word len∈[3.7,5.3],
    // type-token ratio∈[0.28,1.0] med 0.46):
    //   r_words — ≥ 50 words (Gopher: 50..100k);
    //   r_wlen  — mean word length in [3, 4.5] as pure integer tests
    //             (3n ≤ Σlen ∧ 2Σlen ≤ 9n — no division, no floats);
    //   r_stop  — ≥ 1 of the 5 en stopwords (Gopher's "stop word" rule);
    //   r_ttr   — type-token ratio ≥ 0.4 (5·uniq ≥ 2·n), the
    //             duplicate-content proxy.
    // pass = all four. Like q_c30 the whole filter is ONE map-side
    // projection of array folds — no shuffle, no UDF; at 100 TB it runs
    // at scan speed. Every comparison is integer, so the oracle is exact.
    QueryDef(
      "q_c31_rules_filter",
      Some(s"""WITH $duckRuleStats
             |SELECT doc_id, n_words,
             |  CAST(CASE WHEN n_words >= 50 THEN 1 ELSE 0 END AS INT) AS r_words,
             |  CAST(CASE WHEN 3 * n_words <= sumlen AND 2 * sumlen <= 9 * n_words THEN 1 ELSE 0 END AS INT) AS r_wlen,
             |  CAST(CASE WHEN stop_hits >= 1 THEN 1 ELSE 0 END AS INT) AS r_stop,
             |  CAST(CASE WHEN 5 * uniq >= 2 * n_words THEN 1 ELSE 0 END AS INT) AS r_ttr,
             |  CAST(CASE WHEN n_words >= 50 AND 3 * n_words <= sumlen
             |    AND 2 * sumlen <= 9 * n_words AND stop_hits >= 1
             |    AND 5 * uniq >= 2 * n_words THEN 1 ELSE 0 END AS INT) AS pass
             |FROM rm ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      rulesFlags(Tables(s, d, "documents"))
        .select(col("doc_id"), col("n_words"), col("r_words"), col("r_wlen"),
          col("r_stop"), col("r_ttr"), col("pass"))
        .orderBy(col("doc_id"))
    },

    // ---- q_c32: BPE merge-pair statistics (tokenizer training step) ------
    // The counting core of BPE vocabulary induction (Sennrich et al.
    // 2016): aggregate the corpus to its WORD-FREQUENCY table, then count
    // adjacent symbol pairs weighted by word frequency — the top pair is
    // the next merge. The distributed shape is the whole point: the
    // corpus-sized stage is exactly one tokenize + groupBy(word) (a
    // Heaps-law-bounded shuffle), and every later stage — pair explode,
    // pair aggregation, top-k — runs over the VOCABULARY, not the corpus,
    // which is why BPE training is tractable at 100 TB (re-encoding per
    // merge round touches the word table, never the corpus). Emits the
    // top-20 candidate merges with occurrence and distinct-word counts;
    // pure integer arithmetic, deterministic (count DESC, pair ASC).
    QueryDef(
      "q_c32_bpe_pair_stats",
      Some("""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM documents),
             |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wf FROM toks GROUP BY 1),
             |pairs AS (
             |  SELECT word, wf,
             |    unnest(list_transform(range(1, length(word)),
             |      i -> substring(word, CAST(i AS INT), 2))) AS pair
             |  FROM wf WHERE length(word) >= 2)
             |SELECT pair, CAST(SUM(wf) AS BIGINT) AS n_occurrences,
             |  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
             |FROM pairs GROUP BY pair
             |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin)
    ) { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("word"))
      val wf = toks.groupBy(col("word")).agg(count(lit(1)).as("wf"))
      wf.filter(length(col("word")) >= 2)
        .select(col("word"), col("wf"),
          explode(expr(
            "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
            .as("pair"))
        .groupBy(col("pair"))
        .agg(
          sum(col("wf")).as("n_occurrences"),
          countDistinct(col("word")).as("n_words"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .limit(20)
    },

    // ---- q_c33: BPE tokenizer TRAINING (multi-round merge fixpoint) ------
    // The full vocabulary-induction loop over q_c32's statistics — see
    // [[BpeTrainer]]. Emits the learned merge table. The per-round argmax
    // is driver-held model state (the q_c9 Lloyd / q_c13 star-CC class),
    // so no single-SQL oracle exists → rows-only driver check;
    // BpeTrainerSpec proves the merge sequence identical to an
    // independent Scala reference on the driver corpora.
    QueryDef("q_c33_bpe_train", None) { (s, d) =>
      BpeTrainer.mergesDf(s, d, nMerges = 15)
    },

    // ---- q_c34: trained-tokenizer corpus encoding ------------------------
    // The inference side of q_c33: per-document token counts under the
    // LEARNED merges (rank-ordered application, nested HOF fold — see
    // [[BpeTrainer.encodeTokens]]) plus the chars-per-token compression
    // ratio. Model state ⇒ rows-only; BpeTrainerSpec proves the encoder
    // token-identical to the reference on real documents.
    QueryDef("q_c34_bpe_encode", None) { (s, d) =>
      BpeTrainer.encodedCounts(s, d, nMerges = 15)
    },

    // ---- q_c35: BPE-dropout subword regularization -----------------------
    // Deterministic-per-seed merge dropout over the trained tokenizer
    // (see [[BpeTrainer.dropoutCounts]]). Model state ⇒ rows-only.
    QueryDef("q_c35_bpe_dropout", None) { (s, d) =>
      BpeTrainer.dropoutCounts(s, d, nMerges = 15)
    },

    // ---- q_c38: character-bigram entropy quality signal ------------------
    // Shannon entropy of each document's character-bigram distribution —
    // the repetition/boilerplate signal compression-ratio filters proxy
    // (low entropy ⇒ few distinct character patterns; complements q_c14's
    // line/ngram repetition rules with an information-theoretic score).
    // Hot path is the codegen'd native [[graft.functions.CharBigramStats]]
    // — the whole signal is ONE map-side pass per document, no Generate,
    // no shuffle, at 100 TB it costs exactly a scan. The relational
    // explode + two doc-keyed shuffles form is kept as the SQL twin and
    // the oracle; per-bigram terms quantize through DECIMAL(18,6) inside
    // the expression (order-independent long sum), so all three forms are
    // bit-identical.
    QueryDef(
      "q_c38_bigram_entropy",
      Some("""WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
             |g AS (
             |  SELECT doc_id, substring(lt, CAST(i AS INT), 2) AS gm
             |  FROM (SELECT doc_id, lt, unnest(range(1, length(lt))) AS i
             |        FROM t WHERE length(lt) >= 2)),
             |c AS (SELECT doc_id, gm, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
             |n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |             CAST(COUNT(*) AS BIGINT) AS n_distinct
             |      FROM c GROUP BY 1),
             |tm AS (SELECT c.doc_id,
             |         CAST(c.c * (ln(CAST(n.n_bigrams AS DOUBLE)) - ln(CAST(c.c AS DOUBLE))) AS DECIMAL(18,6)) AS term
             |       FROM c JOIN n USING (doc_id)),
             |a AS (SELECT doc_id, CAST(SUM(term) AS DECIMAL(18,6)) AS sm FROM tm GROUP BY 1)
             |SELECT d.doc_id,
             |  COALESCE(n.n_bigrams, 0) AS n_bigrams,
             |  COALESCE(n.n_distinct, 0) AS n_distinct,
             |  CAST(CASE WHEN n.n_bigrams IS NULL THEN CAST(0 AS DECIMAL(38,6))
             |       ELSE CAST(a.sm / CAST(n.n_bigrams AS DECIMAL(18,6)) AS DECIMAL(38,6)) END AS DOUBLE) AS entropy
             |FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)
    ) { (s, d) =>
      entropyProjection(Tables(s, d, "documents")).orderBy(col("doc_id"))
    },

    // ---- q_c39: unigram-LM tokenizer TRAINING (SentencePiece family) -----
    // The second public vocabulary-induction algorithm (Kudo 2018),
    // complementing q_c33's BPE — see [[UnigramTrainer]]. Viterbi-EM over
    // the word-frequency table; per-round model state collects driver-side
    // (the Lloyd/BPE class) ⇒ rows-only driver check; UnigramTrainerSpec
    // proves the full trajectory identical to an independent reference.
    QueryDef("q_c39_unigram_train", None) { (s, d) =>
      UnigramTrainer.vocabDf(s, d)
    },

    // ---- q_c40: trained-unigram corpus encoding --------------------------
    // Inference side of q_c39: per-document Viterbi token counts through
    // the codegen'd [[graft.functions.UnigramCountTokens]] expression —
    // one map-side projection; joins against q_c34 for the BPE-vs-unigram
    // fertility comparison. Model state ⇒ rows-only.
    QueryDef("q_c40_unigram_encode", None) { (s, d) =>
      UnigramTrainer.encodedCounts(s, d)
    },

    // ---- q_c42: WordPiece tokenizer TRAINING (likelihood-scored) ---------
    // The third public vocabulary-induction family (BERT's WordPiece) —
    // see [[WordPieceTrainer]]: merge-based like q_c33 but argmaxing
    // likelihood gain count(l,r)/(count(l)·count(r)) with ## continuation
    // symbols. Model state ⇒ rows-only; WordPieceTrainerSpec proves the
    // trajectory identical to an independent reference.
    QueryDef("q_c42_wordpiece_train", None) { (s, d) =>
      WordPieceTrainer.mergesDf(s, d, nMerges = 15)
    },

    // ---- q_c43: trained-WordPiece corpus encoding ------------------------
    // BERT's greedy longest-match inference over the learned vocabulary
    // (the published train/infer asymmetry — not merge replay); completes
    // the BPE/unigram/WordPiece fertility comparison. Model state ⇒
    // rows-only.
    QueryDef("q_c43_wordpiece_encode", None) { (s, d) =>
      WordPieceTrainer.encodedCounts(s, d, nMerges = 15)
    },

    // ---- q_c45: BM25 over a STORED postings index ------------------------
    // The index-lifecycle half of q_c12 (the stored-int8-index story for
    // TEXT retrieval): build the inverted postings table ONCE offline —
    // (term, doc_id, tf, dl) range-partitioned and sorted by term, plus a
    // 2-scalar stats table — then serve ranked queries by scanning ONLY
    // the query terms' postings rows: the term predicate pushes into the
    // parquet scan and row-group min/max stats prune everything else, so
    // a query's cost is O(matching postings), not O(corpus). At 100 TB
    // the corpus is tokenized exactly once at index-build time; queries
    // never touch it. Search output is row-identical to q_c12 (same
    // oracle; StoredBm25Spec pins stored ≡ derived and the pushdown).
    QueryDef(
      "q_c45_bm25_stored",
      Some(duckBm25FullCorpus)
    ) { (s, d) =>
      bm25SearchStored(s, postingsIndex(s, d), Seq("hash", "join", "filter"))
    },

    // ---- q_c46: vocabulary-scaling (Heaps) curve -------------------------
    // The dataset-card diagnostic behind every "how does vocabulary grow
    // with data" decision (tokenizer sizing, dedup need, Heaps-law
    // exponent estimation): vocabulary and token counts over NESTED
    // deterministic subsamples — docs hash into 10 buckets (q_c37's LCG,
    // so subsample membership is stable under corpus growth) and level d
    // is the union of buckets 0..d, exactly how scaling curves are drawn
    // in practice. new_terms per level is the marginal vocabulary the
    // extra 10 % of data buys.
    //
    // 100 TB shape: one corpus tokenize → per-term MIN first-bucket
    // (term-keyed shuffle with map-side combine) → a 10-ROW frame that
    // the cumulative windows run over; per-bucket doc/token counts are a
    // second 10-row aggregate. Nothing beyond the Heaps-bounded term
    // aggregation ever shuffles; all arithmetic integer.
    QueryDef(
      "q_c46_heaps_curve",
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    ((CAST(doc_id AS BIGINT) % 1000000007) * 1103515245 + 12345) % 1000000007 % 10 AS bkt,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
             |  FROM documents),
             |docs AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |                CAST(SUM(len(ts)) AS BIGINT) AS n_tokens
             |         FROM b GROUP BY 1),
             |t AS (SELECT bkt, unnest(ts) AS term FROM b),
             |fb AS (SELECT term, MIN(bkt) AS first_bkt FROM t GROUP BY 1),
             |nv AS (SELECT first_bkt AS bkt, CAST(COUNT(*) AS BIGINT) AS new_terms FROM fb GROUP BY 1),
             |lv AS (
             |  SELECT d.bkt AS level, d.n_docs, d.n_tokens, COALESCE(nv.new_terms, 0) AS new_terms
             |  FROM docs d LEFT JOIN nv ON d.bkt = nv.bkt)
             |SELECT level,
             |  CAST(SUM(n_docs) OVER w AS BIGINT) AS n_docs,
             |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS n_tokens,
             |  CAST(SUM(new_terms) OVER w AS BIGINT) AS vocab_size,
             |  CAST(new_terms AS BIGINT) AS new_terms
             |FROM lv
             |WINDOW w AS (ORDER BY level ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY level""".stripMargin)
    ) { (s, d) =>
      val b = Tables(s, d, "documents")
        .select(col("doc_id"),
          (((col("doc_id") % 1000000007L) * 1103515245L + 12345L) % 1000000007L % 10L)
            .as("bkt"),
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
      val docs = b.groupBy(col("bkt")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("ts"))).cast("long").as("n_tokens"))
      val fb = b.select(col("bkt"), explode(col("ts")).as("term"))
        .groupBy(col("term")).agg(min(col("bkt")).as("first_bkt"))
      val nv = fb.groupBy(col("first_bkt").as("bkt")).agg(count(lit(1)).as("new_terms"))
      val w = Window.orderBy(col("level"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(nv, Seq("bkt"), "left")
        .select(col("bkt").as("level"), col("n_docs"), col("n_tokens"),
          coalesce(col("new_terms"), lit(0L)).as("new_terms"))
        .select(col("level"),
          sum(col("n_docs")).over(w).cast("long").as("n_docs"),
          sum(col("n_tokens")).over(w).cast("long").as("n_tokens"),
          sum(col("new_terms")).over(w).cast("long").as("vocab_size"),
          col("new_terms").cast("long").as("new_terms"))
        .orderBy(col("level"))
    },

    // ---- q_c50: Zipf rank-frequency fit ----------------------------------
    // q_c46's companion dataset-card diagnostic: the OLS fit of
    // ln(freq) on ln(rank) over the top-100 vocabulary — the Zipf
    // exponent every corpus characterization reports (natural text sits
    // near slope −1; a far-off slope flags synthetic/repetitive data).
    // Emits the head of the curve (rank ≤ 10) carrying the global fit.
    //
    // Shape: term counts reuse the SHARED tf memo (zero extra tokenize
    // when any LM scorer ran); the top-100 is TakeOrdered; ranking and
    // the fit run over a 100-row frame (the single-partition window is
    // bounded by the LIMIT, not the corpus). Float discipline: ln terms
    // quantize through DECIMAL(18,6) per row, sums are exact decimal,
    // and the closed-form OLS arithmetic runs on exact doubles derived
    // from those sums — identical IEEE sequences in both engines —
    // before the final quantize.
    QueryDef(
      "q_c50_zipf_fit",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |c1 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
             |top AS (SELECT term, cnt FROM c1 ORDER BY cnt DESC, term LIMIT 100),
             |r AS (SELECT term, cnt,
             |        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rnk
             |      FROM top),
             |q AS (SELECT term, cnt, rnk,
             |        CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(18,6)) AS x,
             |        CAST(ln(CAST(cnt AS DOUBLE)) AS DECIMAL(18,6)) AS y,
             |        CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)) AS DECIMAL(18,6)) AS xy,
             |        CAST(ln(CAST(rnk AS DOUBLE)) * ln(CAST(rnk AS DOUBLE)) AS DECIMAL(18,6)) AS xx
             |      FROM r),
             |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             |             CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx
             |      FROM q),
             |fit AS (SELECT
             |          CASE WHEN s.n >= 2 THEN CAST(CAST((s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) AS DECIMAL(18,6)) AS DOUBLE) END AS slope,
             |          CASE WHEN s.n >= 2 THEN CAST(CAST((s.sy - (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) * s.sx) / s.n AS DECIMAL(18,6)) AS DOUBLE) END AS intercept,
             |          CAST(s.n AS BIGINT) AS n_terms
             |        FROM s)
             |SELECT q.rnk, q.term, q.cnt, f.n_terms, f.slope, f.intercept
             |FROM q CROSS JOIN fit f WHERE q.rnk <= 10
             |ORDER BY q.rnk""".stripMargin)
    ) { (s, d) =>
      val tf = tfUnigram(s, d)
      val c1 = tf.groupBy(col("term")).agg(sum(col("tf")).cast("long").as("cnt"))
      val top = c1.orderBy(col("cnt").desc, col("term")).limit(100)
      val q = top
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("cnt").desc, col("term"))).cast("long"))
        .withColumn("x", dec(log(col("rnk").cast("double"))))
        .withColumn("y", dec(log(col("cnt").cast("double"))))
        .withColumn("xy", dec(log(col("rnk").cast("double")) * log(col("cnt").cast("double"))))
        .withColumn("xx", dec(log(col("rnk").cast("double")) * log(col("rnk").cast("double"))))
      val st = q.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
        sum(col("xy")).cast("double").as("sxy"), sum(col("xx")).cast("double").as("sxx"))
      // degenerate-corpus guard (mirrored in both SQL twins): with <= 1
      // distinct term the denominator n*sxx - sx² is exactly 0 and the
      // fit is undefined — emit explicit NULL columns rather than the
      // engine-dependent NaN/NULL a 0/0 would produce. n >= 2 suffices
      // because rnk (hence x = ln rnk) is distinct by construction.
      val fit = st.select(
        when(col("n") >= 2,
          emitQ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")))).as("slope"),
        when(col("n") >= 2,
          emitQ((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n")))
          .as("intercept"),
        col("n").cast("long").as("n_terms"))
      q.filter(col("rnk") <= 10)
        .crossJoin(broadcast(fit))
        .select(col("rnk"), col("term"), col("cnt"), col("n_terms"),
          col("slope"), col("intercept"))
        .orderBy(col("rnk"))
    },

    // ---- q_c44: interpolated bigram-LM perplexity scoring ----------------
    // The n-gram upgrade of q_c26's unigram filter — the CCNet recipe
    // scores documents under an n-gram LM; here the model is the corpus
    // bigram table with Jelinek-Mercer interpolation against the unigram
    // distribution: p(w2|w1) = 0.9·c(w1,w2)/c(w1) + 0.1·c(w2)/T, per-doc
    // nll = Σ_pairs tf·(−ln p), reported per pair.
    //
    // 100 TB shape: the corpus tokenizes into TWO memoized frames — the
    // (doc, term) tf (SHARED with q_c26: same SessionMemo key, so a
    // session running both scores pays the tokenize once) and the
    // (doc, w1, w2) pair tf. The bigram model c2 derives from the pair
    // frame by one Heaps-bounded aggregation; scoring joins are declared
    // pair-keyed and term-keyed SHUFFLES (an n-gram table is corpus-sized
    // state — never broadcast), the per-doc reduce shuffles on doc_id.
    // Float discipline: the interpolated probability is a fixed double
    // expression evaluated identically by both engines, each per-pair
    // term quantizes through DECIMAL(18,6), sums are exact decimal.
    QueryDef(
      "q_c44_bigram_logprob",
      Some("""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
             |t1 AS (SELECT doc_id, unnest(ts) AS term FROM toks),
             |tf1 AS (SELECT doc_id, term, COUNT(*) AS tf FROM t1 GROUP BY 1, 2),
             |c1 AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS n1 FROM tf1 GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n1) AS DOUBLE) AS t FROM c1),
             |prs AS (
             |  SELECT doc_id, ts[k+1] AS w1, ts[k+2] AS w2
             |  FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS k
             |        FROM toks WHERE len(ts) >= 2)),
             |tf2 AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM prs GROUP BY 1, 2, 3),
             |c2 AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS n2 FROM tf2 GROUP BY 1, 2),
             |sc AS (
             |  SELECT f.doc_id,
             |    CAST(f.k * -ln(0.9 * (CAST(c2.n2 AS DOUBLE) / CAST(a.n1 AS DOUBLE))
             |                 + 0.1 * (CAST(b.n1 AS DOUBLE) / s.t)) AS DECIMAL(18,6)) AS term
             |  FROM tf2 f JOIN c2 USING (w1, w2)
             |  JOIN c1 a ON f.w1 = a.term JOIN c1 b ON f.w2 = b.term
             |  CROSS JOIN tot s),
             |agg AS (SELECT doc_id, CAST(SUM(term) AS DECIMAL(18,6)) AS nll FROM sc GROUP BY 1),
             |np AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             |              CAST(GREATEST(len(ts) - 1, 0) AS BIGINT) AS n_pairs FROM toks)
             |SELECT np.doc_id, np.n_tokens, np.n_pairs,
             |  CAST(CASE WHEN np.n_pairs = 0 OR agg.nll IS NULL THEN CAST(0 AS DECIMAL(38,6))
             |       ELSE CAST(agg.nll / CAST(np.n_pairs AS DECIMAL(18,6)) AS DECIMAL(38,6)) END AS DOUBLE) AS avg_nll
             |FROM np LEFT JOIN agg USING (doc_id)
             |ORDER BY np.doc_id""".stripMargin)
    ) { (s, d) =>
      val toks = Tables.raw(s, d, "documents")
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
      // unigram model: the SAME memoized frame q_c26 uses
      val tf1 = tfUnigram(s, d)
      val c1 = tf1.groupBy(col("term")).agg(sum(col("tf")).cast("long").as("n1"))
      val tot = c1.agg(sum(col("n1")).cast("double").as("t"))
      val tf2 = graft.core.SessionMemo.getOrBuild(
        s, "tf2_bigram", d, Seq(s"$d/documents.parquet")) {
        toks.filter(size(col("ts")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ts) - 1)," +
              " i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"))
            .as("p"))
          .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("k"))
      }
      val c2 = tf2.groupBy(col("w1"), col("w2")).agg(sum(col("k")).cast("long").as("n2"))
      val sc = tf2
        .join(c2, Seq("w1", "w2")) // pair-keyed shuffle: bigram table is corpus-sized state
        .join(c1.select(col("term").as("w1"), col("n1").as("n1a")), Seq("w1"))
        .join(c1.select(col("term").as("w2"), col("n1").as("n1b")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          dec(col("k") * -log(
            lit(0.9) * (col("n2").cast("double") / col("n1a").cast("double"))
              + lit(0.1) * (col("n1b").cast("double") / col("t")))).as("term"))
      val agg = sc.groupBy(col("doc_id")).agg(dec(sum(col("term"))).as("nll"))
      toks
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
          greatest(size(col("ts")) - 1, lit(0)).cast("long").as("n_pairs"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_pairs"),
          emit(
            when(col("n_pairs") === 0 || col("nll").isNull, lit(0).cast(D38))
              .otherwise((col("nll") / dec(col("n_pairs"))).cast(D38)))
            .as("avg_nll"))
        .orderBy(col("doc_id"))
    },

    // ---- q_c54: tf-idf document-similarity top-k -------------------------
    // Sparse doc-to-doc retrieval, the classic companion to q_c12's
    // query-to-doc BM25: for a fixed panel of query documents
    // (doc_id % 500 == 0, capped below 10000 — a bounded set on every
    // SF), the top-10 most similar corpus documents under
    // tf-idf-weighted cosine. w(d,t) = tf·ln(N/df); per-term products and
    // squared norms quantize through DECIMAL(18,6) (the q_c50 ln
    // discipline), sums are exact decimal, the final ratio emits through
    // one quantize. Terms with df = N are pruned — their idf is exactly
    // 0, so the prune is value-preserving (identical results) while at
    // corpus scale it removes precisely the stop terms whose postings
    // would dominate the term join.
    //
    // 100 TB shape: the corpus tf frame is the SHARED tf_unigram memo
    // (one tokenize per session across q_c12/q_c26/q_c44/q_c54); the
    // query panel's weighted terms are a bounded small frame joined
    // term-keyed against corpus tf (the only corpus-sized shuffle is the
    // (q_doc, doc) product aggregation, whose rows are bounded by the
    // query terms' document frequencies); per-doc norms are one more
    // aggregation over the memoized tf. Nothing is all-pairs.
    QueryDef(
      "q_c54_tfidf_similarity",
      Some("""WITH t1 AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t1 GROUP BY 1, 2),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT term, df, ln(CAST((SELECT n FROM nn) AS DOUBLE) / CAST(df AS DOUBLE)) AS idf
             |        FROM df WHERE df < (SELECT n FROM nn)),
             |nrm AS (SELECT tf.doc_id,
             |          sqrt(CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) * CAST(tf.tf AS DOUBLE) * idf.idf * idf.idf AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
             |        FROM tf JOIN idf USING (term) GROUP BY 1),
             |q AS (SELECT doc_id AS q_doc, term, tf AS qtf FROM tf WHERE doc_id % 500 = 0 AND doc_id < 10000),
             |dots AS (SELECT q.q_doc, tf.doc_id,
             |           CAST(SUM(CAST(CAST(q.qtf AS DOUBLE) * CAST(tf.tf AS DOUBLE) * idf.idf * idf.idf AS DECIMAL(18,6))) AS DOUBLE) AS dot
             |         FROM q JOIN idf USING (term) JOIN tf USING (term)
             |         WHERE tf.doc_id <> q.q_doc
             |         GROUP BY 1, 2),
             |sim AS (SELECT d.q_doc, d.doc_id,
             |          CAST(CAST(d.dot / (nq.nrm * nd.nrm) AS DECIMAL(18,6)) AS DOUBLE) AS sim
             |        FROM dots d
             |        JOIN nrm nq ON nq.doc_id = d.q_doc
             |        JOIN nrm nd ON nd.doc_id = d.doc_id
             |        WHERE nq.nrm > 0 AND nd.nrm > 0),
             |rk AS (SELECT q_doc, doc_id, sim,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY q_doc ORDER BY sim DESC, doc_id) AS BIGINT) AS rnk
             |       FROM sim)
             |SELECT q_doc, doc_id, sim, rnk FROM rk WHERE rnk <= 10
             |ORDER BY q_doc, rnk""".stripMargin)
    ) { (s, d) =>
      val tf = tfUnigram(s, d)
      // N computed IN-PLAN (1-row broadcast cross join, the q_c26
      // pattern) — an eager count() here would launch a Spark job at
      // plan-construction time on every invocation/EXPLAIN
      val nn = Tables(s, d, "documents")
        .agg(count(lit(1)).cast("long").as("n"))
      val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nn))
        .filter(col("df") < col("n"))
        .withColumn("idf", log(col("n").cast("double") / col("df").cast("double")))
      val wtf = tf.join(idf, Seq("term"))
      val nrm = wtf
        .groupBy(col("doc_id"))
        .agg(sqrt(sum(dec(col("tf").cast("double") * col("tf").cast("double")
          * col("idf") * col("idf"))).cast("double")).as("nrm"))
        .filter(col("nrm") > 0)
      // the panel is a FIXED set (doc_id < 10000 caps it at ≤ 20 docs
      // on every SF): a fraction-of-corpus panel would grow the (panel ×
      // postings) product superlinearly with N — measured exponent 1.13
      // on the sweep fixtures — while real similarity workloads query a
      // bounded set against a growing corpus
      val q = wtf.filter(col("doc_id") % 500 === 0 && col("doc_id") < 10000)
        .select(col("term"), col("doc_id").as("q_doc"), col("tf").as("qtf"))
      // declared-intent broadcast (Sizing discipline): the estimate must
      // match the CAPPED panel — ≤ 20 docs × average doc bytes × ~4
      // tokenize/heap expansion (metadata-only: bytes and row count both
      // from footers). A corpus-proportional estimate here would drop
      // the hint at scale for a side that stays 20 docs forever.
      val docBytes = graft.core.Sizing.onDiskBytes(s, s"$d/documents.parquet")
      val docRows = math.max(1L, graft.core.Sizing.parquetRows(s, s"$d/documents.parquet"))
      val qEst = docBytes / docRows * 20 * 4
      val dots = wtf
        .join(graft.core.Sizing.broadcastIfUnder(s, q, qEst), Seq("term"))
        .filter(col("doc_id") =!= col("q_doc"))
        .groupBy(col("q_doc"), col("doc_id"))
        .agg(sum(dec(col("qtf").cast("double") * col("tf").cast("double")
          * col("idf") * col("idf"))).cast("double").as("dot"))
      val w = Window.partitionBy(col("q_doc")).orderBy(col("sim").desc, col("doc_id"))
      dots
        .join(nrm.select(col("doc_id").as("q_doc"), col("nrm").as("qn")), Seq("q_doc"))
        .join(nrm.select(col("doc_id"), col("nrm").as("dn")), Seq("doc_id"))
        .select(col("q_doc"), col("doc_id"),
          emitQ(col("dot") / (col("qn") * col("dn"))).as("sim"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("q_doc"), col("doc_id"), col("sim"), col("rnk"))
        .orderBy(col("q_doc"), col("rnk"))
    },

    // ---- q_c53: streaming heavy hitters, deterministic batch replay -----
    // The sharded Misra-Gries operator (StreamingOps.heavyHitterUpdates /
    // heavyHitterServe) served through its canonical bounded replay: each
    // shard's corpus tokens in (doc_id, pos) order, folded with the SAME
    // mgUpdate the stream uses, served by the SAME heavyHitterServe.
    // Rows-only by design (driver-held state machine, not SQL); the MG
    // retention/envelope guarantees are spec-asserted against exact batch
    // counts in HeavyHitterReplaySpec, and streaming ≡ replay is pinned
    // on a multi-batch MemoryStream of the same sequence.
    QueryDef("q_c53_heavy_hitters", None) { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"),
          posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")))
        .withColumnRenamed("col", "term")
      graft.streaming.StreamingOps.heavyHitterReplay(toks)
    },

    // ---- q_c69: per-source KL divergence from the corpus ------------------
    // The mixture-drift / domain-shift diagnostic: KL(P_s ‖ P_corpus)
    // over unigram token distributions, per source — the number a
    // mixture designer watches to see which source is an outlier (and
    // the quantity DSIR's importance weights are built from, reported
    // here as the per-source aggregate). No smoothing is needed: every
    // source term exists in the corpus distribution by construction, so
    // each log ratio is finite and KL ≥ 0. ln() is the only
    // engine-sensitive operation; each TERM's contribution quantizes
    // through DECIMAL(18,6) before the exact sum (the q_c26/q_c54
    // discipline), so a last-ulp libm difference cannot reach the hash.
    // Shape: the memoized (doc, term) tf frame joins the doc→source map
    // once, then two term/source-keyed aggregations with map-side
    // combine; per-source totals broadcast; output is O(#sources).
    QueryDef(
      "q_c69_source_kl",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |src AS (SELECT doc_id, source FROM documents),
             |st AS (SELECT s.source, t.term, CAST(SUM(t.tf) AS BIGINT) AS cst
             |       FROM tf t JOIN src s USING (doc_id) GROUP BY 1, 2),
             |ns AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ns FROM st GROUP BY 1),
             |ct AS (SELECT term, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
             |nc AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nc FROM ct),
             |k AS (
             |  SELECT st.source,
             |    CAST((CAST(st.cst AS DOUBLE) / CAST(ns.ns AS DOUBLE)) *
             |         ln((CAST(st.cst AS DOUBLE) * nc.nc)
             |            / (CAST(ns.ns AS DOUBLE) * CAST(ct.ct AS DOUBLE)))
             |      AS DECIMAL(18,6)) AS kterm
             |  FROM st JOIN ns USING (source) JOIN ct USING (term) CROSS JOIN nc),
             |agg AS (SELECT source, CAST(SUM(kterm) AS DECIMAL(18,6)) AS klsum,
             |               CAST(COUNT(*) AS BIGINT) AS n_terms
             |        FROM k GROUP BY 1)
             |SELECT a.source, ns.ns AS src_tokens, a.n_terms,
             |  CAST(CAST(a.klsum AS DECIMAL(38,6)) AS DOUBLE) AS kl
             |FROM agg a JOIN ns USING (source)
             |ORDER BY a.source""".stripMargin)
    ) { (s, d) =>
      sourceKlFrame(s, d)
        .select(col("source"), col("ns").as("src_tokens"), col("n_terms"),
          emit(col("klsum").cast(D38)).as("kl"))
        .orderBy(col("source"))
    },

    // ---- q_c99: DoReMi-style excess-loss mixture weights ------------------
    // The ACTION on q_c69's diagnostic (the q_c98 monitor→action
    // pattern): DoReMi (Xie et al. 2023) reweights domains by the excess
    // loss of a proxy model over a per-domain reference — and for
    // unigram LMs that excess is EXACTLY q_c69's quantity,
    // H(P_s, P_corpus) − H(P_s) = KL(P_s ‖ P_corpus): what the one
    // corpus-level model loses on source s relative to a model that
    // matched s. The published multiplicative-exponential update is not
    // hash-exactable (exp ulp), so the shipped rule is its small-η
    // linearization, fully integer after the one quantized KL:
    //   kl_milli = ⌊max(klsum, 0)·10³⌋        (milli-nats/token)
    //   wnum     = (ns DIV 10³ + 1)·(10³ + kl_milli)
    //              — baseline token share × (1 + KL in nats)
    //   w_ppm    = wnum DIV (Σwnum DIV 10⁶ + 1)
    // The two-step DIV-normalization keeps every intermediate in int64
    // at 100 TB (a direct wnum·10⁶ overflows for a dominant source);
    // share_ppm gets the same treatment, and delta_ppm = w_ppm −
    // share_ppm is the signed re-allocation the mixture designer reads.
    // All operands positive before DIV (DuckDB // floors, Spark DIV
    // truncates — equal on positives).
    //
    // 100 TB shape: inherits q_c69's — the (source, term) aggregate with
    // map-side combine, a term-keyed shuffle join against corpus vocab
    // state; everything after the klsum aggregation is O(#sources) rows
    // with two broadcast 1-row totals.
    QueryDef(
      "q_c99_doremi_weights",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |src AS (SELECT doc_id, source FROM documents),
             |st AS (SELECT s.source, t.term, CAST(SUM(t.tf) AS BIGINT) AS cst
             |       FROM tf t JOIN src s USING (doc_id) GROUP BY 1, 2),
             |ns AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS ns FROM st GROUP BY 1),
             |ct AS (SELECT term, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
             |nc AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nc FROM ct),
             |k AS (
             |  SELECT st.source,
             |    CAST((CAST(st.cst AS DOUBLE) / CAST(ns.ns AS DOUBLE)) *
             |         ln((CAST(st.cst AS DOUBLE) * nc.nc)
             |            / (CAST(ns.ns AS DOUBLE) * CAST(ct.ct AS DOUBLE)))
             |      AS DECIMAL(18,6)) AS kterm
             |  FROM st JOIN ns USING (source) JOIN ct USING (term) CROSS JOIN nc),
             |agg AS (SELECT source, CAST(SUM(kterm) AS DECIMAL(18,6)) AS klsum,
             |               CAST(COUNT(*) AS BIGINT) AS n_terms
             |        FROM k GROUP BY 1),
             |j AS (SELECT a.source, ns.ns, a.n_terms,
             |        CAST(CAST(a.klsum AS DECIMAL(38,6)) AS DOUBLE) AS kl,
             |        GREATEST(CAST(a.klsum * 1000000 AS BIGINT), 0) // 1000 AS kl_milli
             |      FROM agg a JOIN ns USING (source)),
             |tt AS (SELECT CAST(SUM(ns) AS BIGINT) AS tot FROM ns),
             |w AS (SELECT j.*, (j.ns // 1000 + 1) * (1000 + j.kl_milli) AS wnum FROM j),
             |sw AS (SELECT CAST(SUM(wnum) AS BIGINT) AS sw FROM w)
             |SELECT w.source, w.ns AS src_tokens, w.n_terms, w.kl,
             |  CAST(w.kl_milli AS BIGINT) AS kl_milli,
             |  CAST(w.ns // (tt.tot // 1000000 + 1) AS BIGINT) AS share_ppm,
             |  CAST(w.wnum // (sw.sw // 1000000 + 1) AS BIGINT) AS w_ppm,
             |  CAST(w.wnum // (sw.sw // 1000000 + 1)
             |       - w.ns // (tt.tot // 1000000 + 1) AS BIGINT) AS delta_ppm
             |FROM w CROSS JOIN tt CROSS JOIN sw
             |ORDER BY w.source""".stripMargin)
    ) { (s, d) =>
      val base = sourceKlFrame(s, d)
      // the weight table reads the O(#sources) KL frame THREE times (two
      // 1-row totals + the final projection); persist it so the corpus
      // pipeline runs once, not three times (registered → drained after
      // the query materializes)
      val j = graft.core.CachedRdds.registerDf(
        base.withColumn("kl",
            emit(col("klsum").cast(D38)))
          .withColumn("kl_milli",
            expr("GREATEST(CAST(klsum * 1000000 AS BIGINT), 0L) DIV 1000"))
          .withColumn("wnum",
            expr("(ns DIV 1000 + 1) * (1000 + kl_milli)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val tt = j.agg(sum(col("ns")).cast("long").as("tot"))
      val sw = j.agg(sum(col("wnum")).cast("long").as("sw"))
      j.crossJoin(broadcast(tt)).crossJoin(broadcast(sw))
        .select(col("source"), col("ns").as("src_tokens"), col("n_terms"),
          col("kl"), col("kl_milli").cast("long").as("kl_milli"),
          expr("CAST(ns DIV (tot DIV 1000000 + 1) AS BIGINT)").as("share_ppm"),
          expr("CAST(wnum DIV (sw DIV 1000000 + 1) AS BIGINT)").as("w_ppm"),
          expr("""CAST(wnum DIV (sw DIV 1000000 + 1)
                 - ns DIV (tot DIV 1000000 + 1) AS BIGINT)""").as("delta_ppm"))
        .orderBy(col("source"))
    },

    // ---- q_c70: incremental postings-index append (q_c68 for BM25) --------
    // The retrieval-side incremental-maintenance twin of q_c68: a batch
    // (doc_id % 10 = 3) arrives, its postings and (n_docs, tot) stats
    // are computed from the BATCH TEXT ONLY and unioned/added onto the
    // stored base index — the base corpus is never re-read and the index
    // is never rebuilt. This works because the stored search derives df
    // at query time from the term-pruned postings scan, and the only
    // whole-corpus statistics are the ADDITIVE (n_docs, tot) pair — so
    // append ≡ rebuild exactly, proven by scoring against the
    // full-corpus q_c45 oracle. Scoring tail shared verbatim with q_c45
    // ([[bm25Score]]).
    QueryDef(
      "q_c70_bm25_append",
      Some(duckBm25FullCorpus)
    ) { (s, d) =>
      val basePath = postingsBaseIndex(s, d)
      val basePost = s.read.parquet(s"$basePath/postings")
      val baseStats = s.read.parquet(s"$basePath/stats")
      val (batchPost, batchStats) = postingsOf(
        Tables(s, d, "documents").filter(col("doc_id") % 10 === 3))
      val stats = baseStats
        .crossJoin(batchStats
          .select(col("n_docs").as("bn"), col("tot").as("bt")))
        .select((col("n_docs") + col("bn")).as("n_docs"),
          (col("tot") + col("bt")).as("tot"))
      bm25Score(basePost.unionByName(batchPost), stats,
        Seq("hash", "join", "filter"))
    },

    // ---- q_c123: postings-segment compaction -------------------------------
    // The fourth verb of the stored-index lifecycle (build q_c45 /
    // search / append q_c70 / COMPACT): in production the q_c70 append
    // persists each arriving batch as its own SEGMENT (a batch-sized
    // write — the LSM/Lucene discipline), and reads degrade as segments
    // accumulate: every term probe opens k files and term-locality ends
    // at each segment boundary. Compaction merges the segment postings
    // back into ONE term-range-sorted table and sums the additive
    // (n_docs, tot) stats — correct for the same reason append is: no
    // stored statistic except that pair depends on the corpus as a
    // whole. The merge reads ONLY the stored segments — the corpus text
    // is never re-tokenized (StoredBm25Spec proves it by compacting
    // after the source corpus is deleted) — so its cost is O(index
    // bytes), not O(corpus): the property that makes periodic compaction
    // affordable at 100 TB. Search over the compacted artifact is the
    // byte-identical q_c45 path; the oracle is the full-corpus scoring
    // (segments partition the corpus, so compacted ≡ one-shot build).
    QueryDef(
      "q_c123_bm25_compacted",
      Some(duckBm25FullCorpus)
    ) { (s, d) =>
      bm25SearchStored(s, bm25CompactedIndex(s, bm25SegmentsIndex(s, d)),
        Seq("hash", "join", "filter"))
    },

    // ---- q_c74: Count-Min sketch frequency estimation ---------------------
    // The third frequency SKETCH beside Misra-Gries (q_c53) and Bloom
    // (q_c61), completing the streaming-summaries family (Cormode &
    // Muthukrishnan 2005): a depth-3 × width-1024 counter grid summarizes
    // the corpus term distribution in 3·1024 cells; a term's estimate is
    // the MIN over its three hashed cells, which can only OVERCOUNT
    // (collisions add, never subtract). Like q_c61's Bloom bits, the
    // double-hashing family is pure integer arithmetic over the house
    // rolling hash, so the sketch — including every collision — is
    // SQL-derivable and the estimates themselves are oracle-checked, not
    // just spec-asserted. Output: the 100 most frequent terms with exact
    // count, CMS estimate, and overcount.
    //
    // 100 TB shape: term totals come off the shared tf_unigram memo (one
    // corpus tokenize per session) via one map-side-combined agg; the
    // sketch is a ≤3072-row frame built from the VOCABULARY (Heaps-
    // bounded), broadcast back for the probe joins; the top-100 is
    // TakeOrdered, not a global sort. The sketch agg is LINEAR, so the
    // same plan merges per-shard sketches (CmsSketchSpec pins
    // mergeability) — the property that makes it a one-pass streaming
    // summary at any scale.
    QueryDef(
      "q_c74_cms_freq",
      Some(s"""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
              |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
              |th AS (SELECT term, cnt,
              |  list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(ascii(x) AS BIGINT) for x in string_split(term, '')]), (acc, ch) -> (acc * 31 + ch) % 1000000007) AS th
              |  FROM tc),
              |sl AS (SELECT term, cnt,
              |  ((487198041 * th + 259200101) % 1000000007) % 1024 AS s0,
              |  ((741932517 * th + 373587883) % 1000000007) % 1024 AS s1,
              |  ((268435399 * th + 608135813) % 1000000007) % 1024 AS s2 FROM th),
              |sk AS (SELECT row_i, slot, CAST(SUM(cnt) AS BIGINT) AS c FROM (
              |  SELECT 0 AS row_i, s0 AS slot, cnt FROM sl
              |  UNION ALL SELECT 1, s1, cnt FROM sl
              |  UNION ALL SELECT 2, s2, cnt FROM sl) GROUP BY 1, 2)
              |SELECT sl.term, sl.cnt AS exact_cnt,
              |  LEAST(k0.c, k1.c, k2.c) AS cms_est,
              |  LEAST(k0.c, k1.c, k2.c) - sl.cnt AS overcount
              |FROM sl
              |JOIN sk k0 ON k0.row_i = 0 AND k0.slot = sl.s0
              |JOIN sk k1 ON k1.row_i = 1 AND k1.slot = sl.s1
              |JOIN sk k2 ON k2.row_i = 2 AND k2.slot = sl.s2
              |ORDER BY exact_cnt DESC, sl.term LIMIT 100""".stripMargin)
    ) { (s, d) =>
      val sl = cmsSlots(termCounts(s, d))
      val sk = cmsSketch(sl)
      val probed = cmsParams.indices.foldLeft(sl) { (acc, i) =>
        acc.join(
          broadcast(sk.filter(col("row_i") === i)
            .select(col("slot").as(s"s$i"), col("c").as(s"c$i"))),
          Seq(s"s$i"))
      }
      probed
        .select(col("term"), col("cnt").as("exact_cnt"),
          least(col("c0"), col("c1"), col("c2")).as("cms_est"),
          (least(col("c0"), col("c1"), col("c2")) - col("cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("term"))
        .limit(100)
    },

    // ---- q_c76: CCNet-style perplexity buckets ----------------------------
    // The head/middle/tail partition CCNet (Wenzek et al. 2020) ships
    // with: per LANGUAGE, cut the corpus at the NLL terciles and label
    // each document's bucket — head+middle is the kept training pool,
    // tail is the drop candidate. The score is EXACTLY q_c26's per-doc
    // unigram NLL (shared [[docNll]] pipeline — no semantic fork); the
    // cuts are exact interpolated percentiles quantized through
    // DECIMAL(18,6) (the q_b8 discipline, so a last-ulp interpolation
    // wobble cannot flip a bucket), and the bucket comparison is over
    // doubles both engines derived identically.
    //
    // 100 TB shape: scoring rides the memoized tf frame; the cut frame
    // is O(#langs) rows and broadcasts back; the only corpus-sized
    // operations are q_c26's own shuffles plus one lang-keyed broadcast
    // join. The exact percentile collects each lang's scores into one
    // aggregation buffer — the documented small-SF/oracle path; q_c58's
    // Greenwald-Khanna sketch is the bounded-state scale variant of the
    // same cut.
    QueryDef(
      "q_c76_ppl_buckets",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
             |vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM vocab),
             |scored AS (
             |  SELECT t.doc_id,
             |    CAST(t.tf * -ln(CAST(v.cnt AS DOUBLE) / s.tot) AS DECIMAL(18,6)) AS tscore
             |  FROM tf t JOIN vocab v USING (term) CROSS JOIN tot s),
             |agg AS (SELECT doc_id, CAST(SUM(tscore) AS DECIMAL(18,6)) AS nll FROM scored GROUP BY 1),
             |ppl AS (
             |  SELECT d.doc_id,
             |    CAST(CAST(a.nll / CAST(d.n_tokens AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS avg_nll
             |  FROM dl d JOIN agg a USING (doc_id)),
             |pl AS (SELECT p.doc_id, doc.lang, p.avg_nll
             |       FROM ppl p JOIN documents doc USING (doc_id)),
             |cuts AS (SELECT lang,
             |    CAST(CAST(quantile_cont(avg_nll, 1.0/3) AS DECIMAL(18,6)) AS DOUBLE) AS c33,
             |    CAST(CAST(quantile_cont(avg_nll, 2.0/3) AS DECIMAL(18,6)) AS DOUBLE) AS c66
             |  FROM pl GROUP BY 1)
             |SELECT pl.doc_id, pl.lang, pl.avg_nll,
             |  CASE WHEN pl.avg_nll <= c.c33 THEN 'head'
             |       WHEN pl.avg_nll <= c.c66 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM pl JOIN cuts c USING (lang)
             |ORDER BY pl.doc_id""".stripMargin)
    ) { (s, d) =>
      val pl = docNll(s, d)
        .join(Tables.raw(s, d, "documents").select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("avg_nll"))
      val cuts = pl.groupBy(col("lang")).agg(
        expr("CAST(CAST(percentile(avg_nll, 1.0D/3) AS DECIMAL(18,6)) AS DOUBLE)").as("c33"),
        expr("CAST(CAST(percentile(avg_nll, 2.0D/3) AS DECIMAL(18,6)) AS DOUBLE)").as("c66"))
      pl.join(broadcast(cuts), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_nll"),
          when(col("avg_nll") <= col("c33"), "head")
            .when(col("avg_nll") <= col("c66"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    },

    // ---- q_c77: PMI collocations (windowed co-occurrence) -----------------
    // The classic collocation extractor (Church & Hanks 1990): pointwise
    // mutual information over ordered word pairs co-occurring within a
    // ±2-token window, PMI = ln(c_xy·N² / (T·c_x·c_y)); the top-50
    // strongest associations with pair count ≥ 5 (the standard
    // low-count prune — PMI is notoriously unstable on rare pairs).
    // The ratio is assembled in ONE double expression with identical
    // association order in both engines, then quantized (D18,6) so the
    // single ln call cannot leak a ulp into the hash.
    //
    // 100 TB shape: pair generation is MAP-ONLY (a per-row transform
    // over the token array for gaps 1 and 2 — never a positions
    // self-join); one (w1, w2)-keyed agg with map-side combine, pruned
    // to frequent pairs BEFORE the two vocab joins; unigram counts ride
    // the shared tf_unigram memo; N and T are 1-row broadcasts; top-50
    // is TakeOrdered.
    QueryDef(
      "q_c77_pmi_collocations",
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
             |p AS (
             |  SELECT ts[i+1] AS w1, ts[i+2] AS w2
             |  FROM (SELECT ts, unnest(range(len(ts) - 1)) AS i FROM t WHERE len(ts) >= 2)
             |  UNION ALL
             |  SELECT ts[i+1], ts[i+3]
             |  FROM (SELECT ts, unnest(range(len(ts) - 2)) AS i FROM t WHERE len(ts) >= 3)),
             |cp AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_cnt
             |       FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 5),
             |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
             |       FROM (SELECT unnest(ts) AS term FROM t) GROUP BY 1),
             |nn AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM tc),
             |tp AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM p)
             |SELECT cp.w1, cp.w2, cp.pair_cnt,
             |  CAST(CAST(ln((CAST(cp.pair_cnt AS DOUBLE) * nn.n * nn.n)
             |    / (tp.t * CAST(a.cnt AS DOUBLE) * CAST(b.cnt AS DOUBLE)))
             |    AS DECIMAL(18,6)) AS DOUBLE) AS pmi
             |FROM cp JOIN tc a ON a.term = cp.w1 JOIN tc b ON b.term = cp.w2
             |CROSS JOIN nn CROSS JOIN tp
             |ORDER BY pmi DESC, cp.w1, cp.w2 LIMIT 50""".stripMargin)
    ) { (s, d) =>
      val t = Tables.raw(s, d, "documents")
        .select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
      def gapPairs(g: Int) = t
        .filter(size(col("ts")) > g)
        .select(explode(expr(
          s"transform(sequence(0, size(ts) - 1 - $g), i -> struct(ts[i] AS w1, ts[i + $g] AS w2))"))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val p = gapPairs(1).unionByName(gapPairs(2))
      val cp = p.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("pair_cnt"))
        .filter(col("pair_cnt") >= 5)
      val tc = termCounts(s, d)
      val nn = tc.agg(sum(col("cnt")).cast("double").as("n"))
      val tp = p.agg(count(lit(1)).cast("double").as("t"))
      cp
        .join(tc.select(col("term").as("w1"), col("cnt").as("c1")), Seq("w1"))
        .join(tc.select(col("term").as("w2"), col("cnt").as("c2")), Seq("w2"))
        .crossJoin(broadcast(nn))
        .crossJoin(broadcast(tp))
        .select(col("w1"), col("w2"), col("pair_cnt"),
          emitQ(log((col("pair_cnt").cast("double") * col("n") * col("n"))
            / (col("t") * col("c1").cast("double") * col("c2").cast("double"))))
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    },

    // ---- q_c79: vocabulary coverage / OOV-rate curve -----------------------
    // The tokenizer-sizing report: for candidate vocabulary budgets k =
    // ⌈vocab·m/64⌉, m ∈ {1,4,8,16,32,48}, what fraction of corpus tokens
    // falls outside the top-k most frequent terms (ranked cnt DESC) —
    // the curve a trainer reads before fixing a vocab budget. Budgets
    // are DATA-DEPENDENT fractions of the observed vocabulary (the
    // q_c62 budget convention) so the curve discriminates at every SF —
    // a fixed absolute k list saturates to OOV 0 the moment the corpus
    // vocabulary falls below the smallest k. Computed WITHOUT ranking
    // the vocabulary: the frequency-of-frequencies table F(c) = #terms
    // with count c collapses every tie, and since all terms in a count
    // bucket are interchangeable for coverage, covered(k) =
    // tokens_before(c*) + (k − terms_before(c*))·c* where c* is the
    // bucket containing rank k — tie-break-independent by construction.
    //
    // 100 TB shape: two map-side-combined aggs off the shared tf_unigram
    // memo; the only window runs over the F(c) frame, whose size is the
    // number of DISTINCT count values — O(√total_tokens) worst case
    // (counts 1..m need m(m+1)/2 tokens), orders of magnitude below the
    // vocabulary the naive global rank would sort; the 6-row budget
    // frame broadcasts into the bucket-location join.
    QueryDef(
      "q_c79_vocab_coverage",
      Some("""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
             |ff AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS nterms FROM tc GROUP BY 1),
             |cum AS (SELECT cnt, nterms,
             |  COALESCE(SUM(nterms) OVER (ORDER BY cnt DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS terms_before,
             |  COALESCE(SUM(cnt * nterms) OVER (ORDER BY cnt DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
             |  FROM ff),
             |tot AS (SELECT CAST(SUM(cnt * nterms) AS BIGINT) AS total_tokens,
             |               CAST(SUM(nterms) AS BIGINT) AS vocab FROM ff),
             |ks AS (SELECT CAST(m AS BIGINT) AS m,
             |              GREATEST((tot.vocab * m) // 64, 1) AS k
             |       FROM (SELECT unnest([1, 4, 8, 16, 32, 48]) AS m) CROSS JOIN tot),
             |sel AS (SELECT ks.m, ks.k,
             |          c.tokens_before + (ks.k - c.terms_before) * c.cnt AS covered
             |        FROM ks JOIN cum c
             |          ON c.terms_before < ks.k AND ks.k <= c.terms_before + c.nterms)
             |SELECT ks.m AS frac64, CAST(ks.k AS BIGINT) AS vocab_size,
             |  CAST(COALESCE(s.covered, tot.total_tokens) AS BIGINT) AS covered_tokens,
             |  tot.total_tokens,
             |  CAST(CAST(CAST(tot.total_tokens - COALESCE(s.covered, tot.total_tokens) AS DECIMAL(18,6))
             |    / CAST(tot.total_tokens AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS oov_rate
             |FROM ks LEFT JOIN sel s ON s.m = ks.m CROSS JOIN tot
             |ORDER BY frac64""".stripMargin)
    ) { (s, d) =>
      import s.implicits._
      val ff = termCounts(s, d)
        .groupBy(col("cnt")).agg(count(lit(1)).cast("long").as("nterms"))
      val w = Window.orderBy(col("cnt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = ff
        .withColumn("terms_before", coalesce(sum(col("nterms")).over(w), lit(0L)))
        .withColumn("tokens_before",
          coalesce(sum(col("cnt") * col("nterms")).over(w), lit(0L)))
      val tot = ff.agg(
        sum(col("cnt") * col("nterms")).cast("long").as("total_tokens"),
        sum(col("nterms")).cast("long").as("vocab"))
      val ks = Seq(1L, 4L, 8L, 16L, 32L, 48L).toDF("m")
        .crossJoin(broadcast(tot.select(col("vocab"))))
        .select(col("m"), greatest(expr("(vocab * m) DIV 64"), lit(1L)).as("k"))
      val sel = cum.join(broadcast(ks),
          col("terms_before") < col("k")
            && col("k") <= col("terms_before") + col("nterms"))
        .select(col("m"), col("k"),
          (col("tokens_before") + (col("k") - col("terms_before")) * col("cnt"))
            .as("covered"))
      ks.join(sel.drop("k"), Seq("m"), "left")
        .crossJoin(broadcast(tot.select(col("total_tokens"))))
        .select(col("m").as("frac64"), col("k").as("vocab_size"),
          coalesce(col("covered"), col("total_tokens")).cast("long").as("covered_tokens"),
          col("total_tokens"),
          emit((dec(col("total_tokens") - coalesce(col("covered"), col("total_tokens")))
            / dec(col("total_tokens"))).cast(D38)).as("oov_rate"))
        .orderBy(col("frac64"))
    },

    // ---- q_c80: Kneser-Ney bigram LM estimation ---------------------------
    // The interpolated-KN statistics table (Kneser & Ney 1995; Chen &
    // Goodman 1998) a count-based LM build distributes: per bigram the
    // raw count, the left context's total and type fan-out N1+(w1•), the
    // CONTINUATION count N1+(•w2) — KN's defining quantity: how many
    // distinct contexts a word completes, not how often it occurs — the
    // corpus-level absolute discount D = n1/(n1+2n2), and the
    // interpolated probability
    //   p_kn(w2|w1) = (c−D)/c(w1•) + D·N1+(w1•)/c(w1•) · N1+(•w2)/types.
    // The whole estimate is count algebra; the one double expression is
    // written with identical association order in both engines and
    // quantized (D18,6) before emit. Reported for the 100 most frequent
    // bigrams (pinned order).
    //
    // 100 TB shape: adjacent-pair generation is map-only (the q_c77
    // transform); everything else is aggs over the bigram-TYPE table
    // (vocabulary-squared-bounded in principle, Heaps-bounded in
    // practice — the same boundedness class as the trainers' vocab
    // state); the discount triple is a 1-row broadcast; the two
    // fan-out joins key the broadcast top-100 against the type tables.
    QueryDef(
      "q_c80_kn_bigram_lm",
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
             |bg AS (SELECT ts[i+1] AS w1, ts[i+2] AS w2
             |       FROM (SELECT ts, unnest(range(len(ts) - 1)) AS i FROM t WHERE len(ts) >= 2)),
             |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2),
             |lt AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS left_total,
             |              CAST(COUNT(*) AS BIGINT) AS left_types FROM cb GROUP BY 1),
             |ct AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont_types FROM cb GROUP BY 1),
             |dsc AS (SELECT
             |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
             |    CAST(COUNT(*) AS DOUBLE) AS types FROM cb),
             |top AS (SELECT w1, w2, cnt FROM cb ORDER BY cnt DESC, w1, w2 LIMIT 100)
             |SELECT top.w1, top.w2, top.cnt, lt.left_total, lt.left_types, ct.cont_types,
             |  CAST(CAST(
             |    (CAST(top.cnt AS DOUBLE)
             |       - (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END))
             |      / CAST(lt.left_total AS DOUBLE)
             |    + (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END)
             |      * CAST(lt.left_types AS DOUBLE) / CAST(lt.left_total AS DOUBLE)
             |      * CAST(ct.cont_types AS DOUBLE) / d.types
             |    AS DECIMAL(18,6)) AS DOUBLE) AS p_kn
             |FROM top JOIN lt USING (w1) JOIN ct USING (w2) CROSS JOIN dsc d
             |ORDER BY top.cnt DESC, top.w1, top.w2""".stripMargin)
    ) { (s, d) =>
      val bg = knBigrams(Tables.raw(s, d, "documents")).select(col("w1"), col("w2"))
      val (cb, lt, ct, dsc) = knBigramStats(bg)
      val top = cb.orderBy(col("cnt").desc, col("w1"), col("w2")).limit(100)
      val dd = knDiscount
      broadcast(top)
        .join(lt, Seq("w1"))
        .join(ct, Seq("w2"))
        .crossJoin(broadcast(dsc))
        .select(col("w1"), col("w2"), col("cnt"),
          col("left_total"), col("left_types"), col("cont_types"),
          emitQ((col("cnt").cast("double") - dd) / col("left_total").cast("double")
            + dd * col("left_types").cast("double") / col("left_total").cast("double")
              * col("cont_types").cast("double") / col("types")).as("p_kn"))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
    },

    // ---- q_c84: held-out perplexity under the KN bigram LM ----------------
    // q_c80's missing half — EVALUATION: train the interpolated-KN
    // bigram statistics on the training slice (doc_id % 17 ≠ 3, the
    // q_c47/q_c78 held-out convention) and score every held-out
    // document's average per-bigram NLL under it, with the full backoff
    // ladder: observed bigram → interpolated KN; unseen bigram, seen
    // context → λ(w1)·p_cont(w2); unseen context → p_cont alone, where
    // p_cont is add-one-smoothed over (types + V) so unseen
    // continuations keep p > 0. This is the actual train/eval LM loop a
    // data pipeline runs to compare corpus variants. Per-token −ln(p)
    // quantizes (D18,6), per-doc sums are exact decimal, the mean
    // divides through D38 (the q_c26 discipline).
    //
    // 100 TB shape: train statistics are the q_c80 aggs (map-side
    // combined, bigram-TYPE-bounded); the held-out side is tiny but the
    // lookup joins shuffle the type tables on their keys (vocab-scale
    // state, NOT broadcastable — the q_c26 vocab-join class); the
    // discount/V scalars ride 1-row broadcasts.
    QueryDef(
      "q_c84_kn_heldout_ppl",
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
             |bg AS (SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2
             |       FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i FROM t WHERE len(ts) >= 2)),
             |trn AS (SELECT w1, w2 FROM bg WHERE doc_id % 17 <> 3),
             |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM trn GROUP BY 1, 2),
             |lt AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS left_total,
             |              CAST(COUNT(*) AS BIGINT) AS left_types FROM cb GROUP BY 1),
             |ct AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont_types FROM cb GROUP BY 1),
             |dsc AS (SELECT
             |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
             |    CAST(COUNT(*) AS DOUBLE) AS types FROM cb),
             |vv AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v
             |       FROM (SELECT unnest(ts) AS term FROM t WHERE doc_id % 17 <> 3)),
             |hb AS (SELECT doc_id, w1, w2 FROM bg WHERE doc_id % 17 = 3),
             |sc AS (SELECT hb.doc_id,
             |  CAST(-ln(
             |    CASE WHEN cb.cnt IS NOT NULL THEN
             |      (CAST(cb.cnt AS DOUBLE)
             |         - (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END))
             |        / CAST(lt.left_total AS DOUBLE)
             |      + (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END)
             |        * CAST(lt.left_types AS DOUBLE) / CAST(lt.left_total AS DOUBLE)
             |        * ((CAST(COALESCE(ct.cont_types, 0) AS DOUBLE) + 1) / (d.types + vv.v))
             |    WHEN lt.w1 IS NOT NULL THEN
             |      (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END)
             |        * CAST(lt.left_types AS DOUBLE) / CAST(lt.left_total AS DOUBLE)
             |        * ((CAST(COALESCE(ct.cont_types, 0) AS DOUBLE) + 1) / (d.types + vv.v))
             |    ELSE ((CAST(COALESCE(ct.cont_types, 0) AS DOUBLE) + 1) / (d.types + vv.v))
             |    END) AS DECIMAL(18,6)) AS nll
             |  FROM hb LEFT JOIN cb ON cb.w1 = hb.w1 AND cb.w2 = hb.w2
             |          LEFT JOIN lt ON lt.w1 = hb.w1
             |          LEFT JOIN ct ON ct.w2 = hb.w2
             |          CROSS JOIN dsc d CROSS JOIN vv)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(CAST(CAST(SUM(nll) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6))
             |    AS DECIMAL(38,6)) AS DOUBLE) AS avg_nll
             |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      val docs = Tables.raw(s, d, "documents")
      val bg = knBigrams(docs)
      val trn = bg.filter(col("doc_id") % 17 =!= 3).select(col("w1"), col("w2"))
      val (cb, lt, ct, dsc) = knBigramStats(trn)
      val vv = knTrainVocab(docs)
      val hb = bg.filter(col("doc_id") % 17 === 3)
      hb
        .join(cb, Seq("w1", "w2"), "left")
        .join(lt, Seq("w1"), "left")
        .join(ct, Seq("w2"), "left")
        .crossJoin(broadcast(dsc))
        .crossJoin(broadcast(vv))
        .withColumn("nll", dec(-log(knBigramProb(
          col("cnt"), col("left_total"), col("left_types"),
          col("cont_types"), col("types"), col("v")))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          emit((dec(sum(col("nll"))) / dec(count(lit(1)))).cast(D38)).as("avg_nll"))
        .orderBy(col("doc_id"))
    },

    // ---- q_c94: Kneser-Ney TRIGRAM LM estimation table --------------------
    // q_c80's order-3 twin (and q_c87's estimation half): the top-100
    // trigrams with their discounted interpolated probability
    //   p_kn3(w3|w1w2) = (c3−D3)/c(w1w2•) + D3·N1+(w1w2•)/c(w1w2•) · p_kn2(w3|w2),
    // where p_kn2 is EXACTLY q_c80's bigram estimate. Every reported
    // trigram's inner bigram (w2,w3) is observed by construction (it
    // occurs inside each trigram occurrence), so the estimation table
    // needs no unseen-event ladder — that ladder is q_c87's job. The
    // p_kn2 factor is a named column (the q_c87 review lesson: one copy,
    // not three), and the one double expression keeps q_c80's exact
    // association order, quantized (D18,6) at emit.
    //
    // 100 TB shape: both orders' statistics are map-side-combined type
    // aggs; the top-100 is a TakeOrdered broadcast against them; the
    // two discount frames are 1-row broadcasts. The trigram type table
    // is O(corpus) on adversarial corpora (measured curve in PERF.md)
    // but stays a distributed table — nothing driver-side.
    QueryDef(
      "q_c94_kn_trigram_lm",
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
             |bg AS (SELECT ts[i+1] AS w1, ts[i+2] AS w2
             |       FROM (SELECT ts, unnest(range(len(ts) - 1)) AS i FROM t WHERE len(ts) >= 2)),
             |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2),
             |lt AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS left_total,
             |              CAST(COUNT(*) AS BIGINT) AS left_types FROM cb GROUP BY 1),
             |ct AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont_types FROM cb GROUP BY 1),
             |dsc AS (SELECT
             |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
             |    CAST(COUNT(*) AS DOUBLE) AS types FROM cb),
             |tg AS (SELECT ts[i+1] AS w1, ts[i+2] AS w2, ts[i+3] AS w3
             |       FROM (SELECT ts, unnest(range(len(ts) - 2)) AS i FROM t WHERE len(ts) >= 3)),
             |c3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS cnt3 FROM tg GROUP BY 1, 2, 3),
             |lt3 AS (SELECT w1, w2, CAST(SUM(cnt3) AS BIGINT) AS ctx_total,
             |               CAST(COUNT(*) AS BIGINT) AS ctx_types FROM c3 GROUP BY 1, 2),
             |dsc3 AS (SELECT
             |    CAST(SUM(CASE WHEN cnt3 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1_3,
             |    CAST(SUM(CASE WHEN cnt3 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2_3 FROM c3),
             |top AS (SELECT w1, w2, w3, cnt3 FROM c3 ORDER BY cnt3 DESC, w1, w2, w3 LIMIT 100),
             |s0 AS (SELECT top.w1, top.w2, top.w3, top.cnt3,
             |         lt3.ctx_total, lt3.ctx_types,
             |         (CAST(cb.cnt AS DOUBLE)
             |            - (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END))
             |           / CAST(lt.left_total AS DOUBLE)
             |         + (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END)
             |           * CAST(lt.left_types AS DOUBLE) / CAST(lt.left_total AS DOUBLE)
             |           * CAST(ct.cont_types AS DOUBLE) / d.types AS pk2
             |       FROM top JOIN lt3 ON lt3.w1 = top.w1 AND lt3.w2 = top.w2
             |                JOIN cb ON cb.w1 = top.w2 AND cb.w2 = top.w3
             |                JOIN lt ON lt.w1 = top.w2
             |                JOIN ct ON ct.w2 = top.w3
             |                CROSS JOIN dsc d)
             |SELECT s0.w1, s0.w2, s0.w3, s0.cnt3, s0.ctx_total, s0.ctx_types,
             |  CAST(CAST(
             |    (CAST(s0.cnt3 AS DOUBLE)
             |       - (CASE WHEN d3.n1_3 + 2 * d3.n2_3 > 0 THEN d3.n1_3 / (d3.n1_3 + 2 * d3.n2_3) ELSE 0.5 END))
             |      / CAST(s0.ctx_total AS DOUBLE)
             |    + (CASE WHEN d3.n1_3 + 2 * d3.n2_3 > 0 THEN d3.n1_3 / (d3.n1_3 + 2 * d3.n2_3) ELSE 0.5 END)
             |      * CAST(s0.ctx_types AS DOUBLE) / CAST(s0.ctx_total AS DOUBLE) * s0.pk2
             |    AS DECIMAL(18,6)) AS DOUBLE) AS p_kn3
             |FROM s0 CROSS JOIN dsc3 d3
             |ORDER BY s0.cnt3 DESC, s0.w1, s0.w2, s0.w3""".stripMargin)
    ) { (s, d) =>
      val docs = Tables.raw(s, d, "documents")
      val (cb, lt, ct, dsc) = knBigramStats(knBigrams(docs).select(col("w1"), col("w2")))
      val (c3, lt3, dsc3) = knTrigramStats(
        knTrigrams(docs).select(col("w1"), col("w2"), col("w3")))
      val top = c3.orderBy(col("cnt3").desc, col("w1"), col("w2"), col("w3")).limit(100)
      val dd = knDiscount
      val pk2 = (col("cnt").cast("double") - dd) / col("left_total").cast("double") +
        dd * col("left_types").cast("double") / col("left_total").cast("double") *
          col("cont_types").cast("double") / col("types")
      val d3 = when(col("n1_3") + lit(2) * col("n2_3") > 0,
        col("n1_3") / (col("n1_3") + lit(2) * col("n2_3"))).otherwise(lit(0.5))
      broadcast(top)
        .join(lt3, Seq("w1", "w2"))
        .join(cb.select(col("w1").as("w2"), col("w2").as("w3"), col("cnt")),
          Seq("w2", "w3"))
        .join(lt.select(col("w1").as("w2"), col("left_total"), col("left_types")),
          Seq("w2"))
        .join(ct.select(col("w2").as("w3"), col("cont_types")), Seq("w3"))
        .crossJoin(broadcast(dsc))
        .withColumn("pk2", pk2)
        .crossJoin(broadcast(dsc3))
        .select(col("w1"), col("w2"), col("w3"), col("cnt3"),
          col("ctx_total"), col("ctx_types"),
          emitQ((col("cnt3").cast("double") - d3) / col("ctx_total").cast("double")
            + d3 * col("ctx_types").cast("double") / col("ctx_total").cast("double")
              * col("pk2")).as("p_kn3"))
        .orderBy(col("cnt3").desc, col("w1"), col("w2"), col("w3"))
    },

    // ---- q_c87: held-out perplexity under a KN TRIGRAM backoff LM ---------
    // q_c84's order-3 extension — the standard recursive interpolation:
    // an observed trigram pays the discounted trigram estimate and
    // interpolates D3·N1+(w1w2•)/c(w1w2•) of its mass into the BIGRAM
    // model; an unseen trigram with a seen (w1,w2) context pays only the
    // interpolation weight times the bigram score; an unseen context
    // backs off to the bigram model entirely. The bigram rung is the
    // IDENTICAL q_c84 ladder ([[knBigramProb]] — same statistics, same
    // expression), so q_c84 and q_c87 are directly comparable evaluation
    // numbers for the same corpus variant, one model order apart.
    //
    // 100 TB shape: the measured type-count curve on the scale fixture
    // family (PERF.md) shows trigram TYPES grow near-linearly in corpus
    // size (~30 % of trigram tokens are distinct at 10×) — unlike the
    // Heaps-bounded vocabulary, the trigram table is O(corpus). That is
    // fine HERE because the model is never driver state: c3/lt3 are
    // shuffle-aggregated DataFrames (map-side combined), the held-out
    // lookups are key-partitioned joins against them, and only the two
    // discount scalars and V ride broadcasts. A deployment that wants a
    // bounded SERVED model applies the standard count cutoff (one
    // `cnt3 >= k` filter on c3 — SRILM/KenLM gtmin pruning) without
    // touching the evaluation shape.
    QueryDef(
      "q_c87_kn_trigram_ppl",
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
             |bg AS (SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2
             |       FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i FROM t WHERE len(ts) >= 2)),
             |trn AS (SELECT w1, w2 FROM bg WHERE doc_id % 17 <> 3),
             |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM trn GROUP BY 1, 2),
             |lt AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS left_total,
             |              CAST(COUNT(*) AS BIGINT) AS left_types FROM cb GROUP BY 1),
             |ct AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont_types FROM cb GROUP BY 1),
             |dsc AS (SELECT
             |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
             |    CAST(COUNT(*) AS DOUBLE) AS types FROM cb),
             |vv AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v
             |       FROM (SELECT unnest(ts) AS term FROM t WHERE doc_id % 17 <> 3)),
             |tg AS (SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2, ts[i+3] AS w3
             |       FROM (SELECT doc_id, ts, unnest(range(len(ts) - 2)) AS i FROM t WHERE len(ts) >= 3)),
             |trn3 AS (SELECT w1, w2, w3 FROM tg WHERE doc_id % 17 <> 3),
             |c3 AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS cnt3 FROM trn3 GROUP BY 1, 2, 3),
             |lt3 AS (SELECT w1, w2, CAST(SUM(cnt3) AS BIGINT) AS ctx_total,
             |               CAST(COUNT(*) AS BIGINT) AS ctx_types FROM c3 GROUP BY 1, 2),
             |dsc3 AS (SELECT
             |    CAST(SUM(CASE WHEN cnt3 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1_3,
             |    CAST(SUM(CASE WHEN cnt3 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2_3 FROM c3),
             |hb AS (SELECT doc_id, w1, w2, w3 FROM tg WHERE doc_id % 17 = 3),
             |sc AS (SELECT doc_id,
             |  CAST(-ln(
             |    CASE WHEN cnt3 IS NOT NULL THEN
             |      (CAST(cnt3 AS DOUBLE)
             |         - (CASE WHEN d3.n1_3 + 2 * d3.n2_3 > 0 THEN d3.n1_3 / (d3.n1_3 + 2 * d3.n2_3) ELSE 0.5 END))
             |        / CAST(ctx_total AS DOUBLE)
             |      + (CASE WHEN d3.n1_3 + 2 * d3.n2_3 > 0 THEN d3.n1_3 / (d3.n1_3 + 2 * d3.n2_3) ELSE 0.5 END)
             |        * CAST(ctx_types AS DOUBLE) / CAST(ctx_total AS DOUBLE) * pbg
             |    WHEN ctx_total IS NOT NULL THEN
             |      (CASE WHEN d3.n1_3 + 2 * d3.n2_3 > 0 THEN d3.n1_3 / (d3.n1_3 + 2 * d3.n2_3) ELSE 0.5 END)
             |        * CAST(ctx_types AS DOUBLE) / CAST(ctx_total AS DOUBLE) * pbg
             |    ELSE pbg END) AS DECIMAL(18,6)) AS nll
             |  FROM (SELECT hb.doc_id, c3.cnt3, lt3.ctx_total, lt3.ctx_types,
             |          CASE WHEN cb.cnt IS NOT NULL THEN
             |            (CAST(cb.cnt AS DOUBLE)
             |               - (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END))
             |              / CAST(lt.left_total AS DOUBLE)
             |            + (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END)
             |              * CAST(lt.left_types AS DOUBLE) / CAST(lt.left_total AS DOUBLE)
             |              * ((CAST(COALESCE(ct.cont_types, 0) AS DOUBLE) + 1) / (d.types + vv.v))
             |          WHEN lt.w1 IS NOT NULL THEN
             |            (CASE WHEN d.n1 + 2 * d.n2 > 0 THEN d.n1 / (d.n1 + 2 * d.n2) ELSE 0.5 END)
             |              * CAST(lt.left_types AS DOUBLE) / CAST(lt.left_total AS DOUBLE)
             |              * ((CAST(COALESCE(ct.cont_types, 0) AS DOUBLE) + 1) / (d.types + vv.v))
             |          ELSE ((CAST(COALESCE(ct.cont_types, 0) AS DOUBLE) + 1) / (d.types + vv.v))
             |          END AS pbg
             |        FROM hb LEFT JOIN c3 ON c3.w1 = hb.w1 AND c3.w2 = hb.w2 AND c3.w3 = hb.w3
             |                LEFT JOIN lt3 ON lt3.w1 = hb.w1 AND lt3.w2 = hb.w2
             |                LEFT JOIN cb ON cb.w1 = hb.w2 AND cb.w2 = hb.w3
             |                LEFT JOIN lt ON lt.w1 = hb.w2
             |                LEFT JOIN ct ON ct.w2 = hb.w3
             |                CROSS JOIN dsc d CROSS JOIN vv) s0
             |  CROSS JOIN dsc3 d3)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             |  CAST(CAST(CAST(SUM(nll) AS DECIMAL(18,6)) / CAST(COUNT(*) AS DECIMAL(18,6))
             |    AS DECIMAL(38,6)) AS DOUBLE) AS avg_nll
             |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin)
    ) { (s, d) =>
      val docs = Tables.raw(s, d, "documents")
      val bg = knBigrams(docs)
      val trn = bg.filter(col("doc_id") % 17 =!= 3).select(col("w1"), col("w2"))
      val (cb, lt, ct, dsc) = knBigramStats(trn)
      val vv = knTrainVocab(docs)
      val tg = knTrigrams(docs)
      val trn3 = tg.filter(col("doc_id") % 17 =!= 3)
        .select(col("w1"), col("w2"), col("w3"))
      val (c3, lt3, dsc3) = knTrigramStats(trn3)
      val hb = tg.filter(col("doc_id") % 17 === 3)
      val d3 = when(col("n1_3") + lit(2) * col("n2_3") > 0,
        col("n1_3") / (col("n1_3") + lit(2) * col("n2_3"))).otherwise(lit(0.5))
      val pBg = knBigramProb(
        col("cnt"), col("left_total"), col("left_types"),
        col("cont_types"), col("types"), col("v"))
      val lam3 = d3 * col("ctx_types").cast("double") / col("ctx_total").cast("double")
      val p3 = when(col("cnt3").isNotNull,
        (col("cnt3").cast("double") - d3) / col("ctx_total").cast("double") + lam3 * pBg)
        .when(col("ctx_total").isNotNull, lam3 * pBg)
        .otherwise(pBg)
      hb
        .join(c3, Seq("w1", "w2", "w3"), "left")
        .join(lt3, Seq("w1", "w2"), "left")
        .join(cb.select(col("w1").as("w2"), col("w2").as("w3"), col("cnt")),
          Seq("w2", "w3"), "left")
        .join(lt.select(col("w1").as("w2"), col("left_total"), col("left_types")),
          Seq("w2"), "left")
        .join(ct.select(col("w2").as("w3"), col("cont_types")), Seq("w3"), "left")
        .crossJoin(broadcast(dsc))
        .crossJoin(broadcast(dsc3))
        .crossJoin(broadcast(vv))
        .withColumn("nll", dec(-log(p3)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_trigrams"),
          emit((dec(sum(col("nll"))) / dec(count(lit(1)))).cast(D38)).as("avg_nll"))
        .orderBy(col("doc_id"))
    },

    // ---- q_c103: positional phrase search from the stored index ----------
    // Exact multi-word phrase retrieval — the capability BM25's bag-of-
    // words ranking (q_c12/q_c45) cannot express: "these words ADJACENT,
    // in order". The stored artifact extends the q_c45 postings with
    // token POSITIONS plus a corpus bigram-count table; a phrase query
    // is then two term-posting fetches joined on (doc, pos+1) — the
    // classic positional-index intersection. The phrase set is data-
    // derived (the top-5 corpus bigrams, count-desc, lexicographic
    // tie-break), so the query follows the q_c45 shape end to end:
    // selection reads the Heaps-bounded bigram table, search reads ONLY
    // the 10 query terms' postings (term IN (...) pushes into parquet).
    //
    // 100 TB shape: the corpus is position-tokenized exactly once at
    // build; per query, the driver holds 5 bigram rows (the bm25
    // query-term pattern) and the positional join shuffles only the
    // matching-term postings on doc_id. The oracle is the brute-force
    // full-corpus scan (lead-window adjacency) — index ≡ scan is the
    // whole correctness claim, and it is hash-exact.
    QueryDef(
      "q_c103_phrase_search",
      Some(duckPhraseBrute)
    ) { (s, d) =>
      phraseSearchStored(s, phraseIndex(s, d))
    },

    // ---- q_c106: ordered proximity search over the same index ------------
    // The second retrieval mode a positional index buys: "w1 then w2
    // within `slop` positions" (ordered window, slop = 3) for the SAME
    // top-5 phrase set as q_c103, reported against strict adjacency. The
    // expansion_pm column (windowed-doc count vs adjacent-doc count, in
    // permille) measures how much "phrase-ness" each pair has beyond
    // mere co-occurrence — the calibration a retrieval stack uses to
    // pick its slop. One positional join computes BOTH statistics, so
    // the ratio cannot be built from drifting bases.
    //
    // 100 TB shape: identical to q_c103 — selection reads the stored
    // Heaps-bounded bigram table, the join touches only the 10 query
    // terms' postings (term IN (...) pushdown), distance is a band
    // predicate on the already doc-matched pairs.
    QueryDef(
      "q_c106_proximity_search",
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
             |p AS (SELECT doc_id, ts[i+1] AS term, CAST(i AS BIGINT) AS pos
             |      FROM (SELECT doc_id, ts, unnest(range(len(ts))) AS i FROM t)),
             |bg AS (SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2
             |       FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i FROM t WHERE len(ts) >= 2)),
             |top AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2
             |        ORDER BY cnt DESC, w1, w2 LIMIT 5),
             |occ AS (SELECT tp.w1, tp.w2, a.doc_id, b.pos - a.pos AS dist
             |        FROM top tp
             |        JOIN p a ON a.term = tp.w1
             |        JOIN p b ON b.term = tp.w2 AND b.doc_id = a.doc_id
             |                AND b.pos > a.pos AND b.pos <= a.pos + 3)
             |SELECT w1 || ' ' || w2 AS phrase,
             |  CAST(COUNT(DISTINCT CASE WHEN dist = 1 THEN doc_id END) AS BIGINT) AS n_docs_adj,
             |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_prox,
             |  CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_occ_adj,
             |  CAST(COUNT(*) AS BIGINT) AS n_occ_prox,
             |  CAST(COUNT(DISTINCT doc_id) * 1000 // COUNT(DISTINCT CASE WHEN dist = 1 THEN doc_id END) AS BIGINT) AS expansion_pm
             |FROM occ GROUP BY w1, w2 ORDER BY phrase""".stripMargin)
    ) { (s, d) =>
      proximitySearchStored(s, phraseIndex(s, d))
    },

    // ---- q_c107: incremental positional-index append ----------------------
    // The q_c70 maintenance story for the phrase index: a batch
    // (doc_id % 10 = 3) arrives, its positional postings and bigram
    // counts are computed from the BATCH TEXT ONLY and unioned/added
    // onto the stored base index — the base corpus is never re-read.
    // This works because positional postings carry NO cross-document
    // state at all (positions are per-document), and the phrase-
    // selection bigram table is a pure ADDITIVE count — so append ≡
    // rebuild exactly, proven by searching against the full-corpus
    // q_c103 oracle. Report tail shared verbatim with q_c103
    // ([[phraseReport]]).
    QueryDef(
      "q_c107_phrase_append",
      Some(duckPhraseBrute)
    ) { (s, d) =>
      val basePath = phraseBaseIndex(s, d)
      val batch = Tables(s, d, "documents").filter(col("doc_id") % 10 === 3)
      val post = s.read.parquet(s"$basePath/postings")
        .unionByName(positionalTokens(batch))
      val bigrams = s.read.parquet(s"$basePath/bigrams")
        .unionByName(knBigrams(batch)
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).cast("long").as("cnt")))
        .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).cast("long").as("cnt"))
      phraseReport(s, post, bigrams)
    },

    // ---- q_c128: positional-segment compaction ------------------------------
    // q_c123's fourth verb for the PHRASE index — the lifecycle claim
    // generalizes because the same two properties that made the append
    // exact make the merge exact: positional postings carry no
    // cross-document state (a segment union IS the full postings set)
    // and the bigram table is a pure additive count (segment tables
    // SUM). Compaction reads ONLY the stored segments — postings re-sort
    // into one term-range layout, bigram counts sum — at O(index bytes),
    // no corpus re-tokenize; search over the compacted artifact is the
    // byte-identical q_c103 path against the shared brute-force oracle.
    QueryDef(
      "q_c128_phrase_compacted",
      Some(duckPhraseBrute)
    ) { (s, d) =>
      phraseSearchStored(s, phraseCompactedIndex(s, phraseSegmentsIndex(s, d)))
    },

    // ---- q_c108: frequency-of-frequencies spectrum + Good-Turing ---------
    // The counts-of-counts table (Zipf's OTHER law: n_r ∝ r^-2) with the
    // raw Good-Turing re-estimate r* = (r+1)·n_{r+1}/n_r per bucket —
    // the table every count-based smoother is built from (KN's n1/n2
    // discounts ARE its first two rows; q_c79's coverage buckets are its
    // cumulative form; the r=1 row's mass share is the Good-Turing
    // unseen-mass estimate n_1/T). Missing next-bucket ⇒ r* = 0 (the gap
    // that motivates SMOOTHED Good-Turing — reported raw, honestly).
    // The ratio is quantized per the house D18,6 EMIT-only pattern; its
    // numerator (r+1)·n_{r+1} stays within D18's 10^12 integer envelope
    // for vocabularies up to 10^11 types.
    //
    // 100 TB shape: the shared tf memo → one term-keyed agg (map-side
    // combined) → the count-keyed agg collapses to the O(√T) spectrum
    // frame; the next-bucket lookup is a self-join ON that tiny frame
    // and the total is a 1-row broadcast. Cost = one tokenize.
    QueryDef(
      "q_c108_token_spectrum",
      Some("""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
             |ff AS (SELECT cnt AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc GROUP BY 1),
             |tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS total_tokens FROM ff)
             |SELECT f.r, f.n_r, CAST(f.r * f.n_r AS BIGINT) AS mass,
             |  CAST(f.r * f.n_r * 1000 // tot.total_tokens AS BIGINT) AS mass_share_pm,
             |  CAST(CAST(CAST(COALESCE((f.r + 1) * nx.n_r, 0) AS DECIMAL(18,6))
             |    / CAST(f.n_r AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS gt_rstar
             |FROM ff f LEFT JOIN ff nx ON nx.r = f.r + 1 CROSS JOIN tot
             |ORDER BY f.r""".stripMargin)
    ) { (s, d) =>
      spectrumReport(termCounts(s, d))
    },

    // ---- q_c109: cross-source vocabulary-overlap matrix ------------------
    // The pairwise complement of q_c69's per-source KL-vs-corpus: for
    // every source pair, vocabulary sizes, shared-type count and type
    // Jaccard in permille — the domain-similarity geometry a mixture
    // designer reads next to the duplicate-overlap matrix (q_c60 asks
    // "do they share DOCUMENTS", this asks "do they share LANGUAGE").
    // Pairs sharing zero types are absent by construction (no row ⇒ no
    // lexical contact).
    //
    // 100 TB shape: the (source, term) type frame off the shared tf
    // memo is Heaps-bounded per source; the pair join is term-keyed
    // with ≤C(|sources|,2) fan-out per type; the output is
    // O(|sources|²). Nothing corpus-sized shuffles after the memo.
    QueryDef(
      "q_c109_source_vocab_overlap",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |st AS (SELECT DISTINCT d.source, t.term
             |       FROM toks t JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)),
             |v AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab FROM st GROUP BY 1),
             |p AS (SELECT a.source AS source_a, b.source AS source_b,
             |             CAST(COUNT(*) AS BIGINT) AS shared_terms
             |      FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
             |      GROUP BY 1, 2)
             |SELECT p.source_a, p.source_b, va.vocab AS v_a, vb.vocab AS v_b,
             |  p.shared_terms,
             |  CAST(p.shared_terms * 1000 // (va.vocab + vb.vocab - p.shared_terms) AS BIGINT) AS jaccard_pm
             |FROM p JOIN v va ON va.source = p.source_a
             |       JOIN v vb ON vb.source = p.source_b
             |ORDER BY source_a, source_b""".stripMargin)
    ) { (s, d) =>
      val st = tfUnigram(s, d)
        .join(Tables.raw(s, d, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("source"), col("term")).distinct()
      val v = st.groupBy(col("source")).agg(count(lit(1)).cast("long").as("vocab"))
      val a = st.select(col("source").as("source_a"), col("term"))
      val b = st.select(col("source").as("source_b"), col("term"))
      val p = a.join(b, Seq("term"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).cast("long").as("shared_terms"))
      p.join(broadcast(v.select(col("source").as("source_a"), col("vocab").as("v_a"))),
          Seq("source_a"))
        .join(broadcast(v.select(col("source").as("source_b"), col("vocab").as("v_b"))),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
          col("shared_terms"),
          expr("CAST(shared_terms * 1000 DIV (v_a + v_b - shared_terms) AS BIGINT)")
            .as("jaccard_pm"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- q_c110: tokenizer-fertility comparison across the families ------
    // The model-selection number: tokens-per-kiloword and chars-per-token
    // for the THREE trained tokenizer families (BPE, unigram-LM,
    // WordPiece — each the exact session-memoized model q_c34/q_c40/
    // q_c43 report, via the shared registerCounter entry points), per
    // source. ONE fused corpus scan evaluates all three codegen'd
    // counters side by side (the q_c49 fusion discipline; spec pins each
    // fused total ≡ its standalone encode query's sum), then a
    // |sources|-row aggregate unpivots to (source, family) rows. Model
    // state ⇒ rows-only driver check, like the whole trainer family.
    //
    // 100 TB shape: training is vocabulary-bounded (the measured ~flat
    // trainer exponents); the comparison itself costs exactly ONE
    // corpus scan regardless of family count; everything after the
    // per-source agg is O(|sources|·3) rows.
    QueryDef("q_c110_tokenizer_fertility", None) { (s, d) =>
      val fns = Seq(
        ("bpe", BpeTrainer.registerCounter(s, d)),
        ("unigram", UnigramTrainer.registerCounter(s, d)),
        ("wordpiece", WordPieceTrainer.registerCounter(s, d)))
      val perDoc = Tables(s, d, "documents")
        .select(col("source"),
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("words"))
        .select(Seq(
          col("source"),
          size(col("words")).cast("long").as("n_words"),
          expr("aggregate(words, 0L, (a, w) -> a + length(w))").as("n_chars")) ++
          fns.map { case (nm, fn) => expr(s"$fn(words)").as(s"t_$nm") }: _*)
      val agg = perDoc.groupBy(col("source")).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("t_bpe")).cast("long").as("t_bpe"),
        sum(col("t_unigram")).cast("long").as("t_unigram"),
        sum(col("t_wordpiece")).cast("long").as("t_wordpiece"))
      agg
        .selectExpr("source", "n_docs", "n_words", "n_chars",
          "stack(3, 'bpe', t_bpe, 'unigram', t_unigram, 'wordpiece', t_wordpiece) AS (family, n_tokens)")
        .select(col("source"), col("family"), col("n_docs"), col("n_words"),
          col("n_chars"), col("n_tokens"),
          expr("CAST(IF(n_words = 0, 0, n_tokens * 1000 DIV n_words) AS BIGINT)")
            .as("tokens_per_kword"),
          emit(
            when(col("n_tokens") === 0, lit(0).cast(D38))
              .otherwise((dec(col("n_chars")) / dec(col("n_tokens"))).cast(D38)))
            .as("chars_per_token"))
        .orderBy(col("source"), col("family"))
    },

    // ---- q_c111: term burstiness (cf/df) for the head vocabulary ---------
    // Church & Gale's burstiness diagnostic: for the top-50 terms by
    // collection frequency, how much more often than once does a term
    // recur inside the documents that contain it (burst_pm = cf·1000
    // DIV df, the mean within-document count in permille — 1000 means
    // "appears once per containing doc", i.e. not bursty), and how
    // concentrated the term is in its heaviest document
    // (top_doc_share_pm). The stopword-vs-content discrimination BM25's
    // tf saturation and the repetition filters (q_c14) both lean on,
    // reported corpus-wide.
    //
    // 100 TB shape: everything derives from the shared tf memo with one
    // term-keyed map-side-combined agg; the top-50 is a TakeOrdered.
    QueryDef(
      "q_c111_term_burstiness",
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
             |st AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf,
             |              CAST(COUNT(*) AS BIGINT) AS df,
             |              CAST(MAX(tf) AS BIGINT) AS max_tf FROM tf GROUP BY 1)
             |SELECT term, cf, df, max_tf,
             |  CAST(cf * 1000 // df AS BIGINT) AS burst_pm,
             |  CAST(max_tf * 1000 // cf AS BIGINT) AS top_doc_share_pm
             |FROM st ORDER BY cf DESC, term LIMIT 50""".stripMargin)
    ) { (s, d) =>
      tfUnigram(s, d)
        .groupBy(col("term"))
        .agg(
          sum(col("tf")).cast("long").as("cf"),
          count(lit(1)).cast("long").as("df"),
          max(col("tf")).cast("long").as("max_tf"))
        .select(col("term"), col("cf"), col("df"), col("max_tf"),
          expr("CAST(cf * 1000 DIV df AS BIGINT)").as("burst_pm"),
          expr("CAST(max_tf * 1000 DIV cf AS BIGINT)").as("top_doc_share_pm"))
        .orderBy(col("cf").desc, col("term"))
        .limit(50)
    },

    // ---- q_c133: segment-retirement plan (the GC half of compaction) --------
    // Compaction (q_c123/q_c128/q_c129/q_c130) leaves superseded segment
    // directories behind; this is the verdict that makes deleting them
    // SAFE: per-segment additive row digests (md5 of the canonical
    // posting row, split into the manifest family's two 64-bit chunks —
    // ONE chunk rule via [[PipelineQueries.md5ChunkA]]/[[PipelineQueries
    // .md5ChunkB]]) summed mod 2^60, next to the compacted table's
    // digest. Because the digests are additive and duplicate-sensitive
    // (SUM, not XOR — multiplicity counts), Σ segment digests ==
    // compacted digest proves the compacted table holds EXACTLY the
    // segment union — rows lost, forged or double-merged all move it —
    // so the verdict retires the input set atomically. The storage half
    // of the LSM lifecycle: build → search → append → compact → RETIRE.
    //
    // 100 TB shape: one column-pruned scan per artifact into a 1-row
    // map-side-combined digest; verdicts are joins of 1-row frames.
    // Reads ONLY stored artifacts (never the corpus) ⇒ rows-only driver
    // check; Bm25RetirementSpec pins the verdict against an independent
    // driver-side fold and proves tamper sensitivity (a dropped and a
    // forged row each flip retire to 0).
    QueryDef("q_c133_segment_retirement", None) { (s, d) =>
      val segPath = bm25SegmentsIndex(s, d)
      val cPath = bm25CompactedIndex(s, segPath)
      segmentRetirementPlan(
        Seq("seg0" -> s.read.parquet(s"$segPath/seg0/postings"),
          "seg1" -> s.read.parquet(s"$segPath/seg1/postings")),
        s.read.parquet(s"$cPath/postings"))
    },

    // ---- q_c136: phrase-index segment retirement (both table shapes) --------
    // The q_c133 GC verdict for the phrase family, which stores BOTH
    // artifact shapes compaction distinguishes: positional postings
    // compact by UNION (row mode — Σ segment digests must equal the
    // compacted digest exactly) while the bigram count table compacts by
    // per-key SUM (weighted mode — digest = Σ chunk(w1,w2)·cnt, linear
    // in the weight and therefore aggregation-invariant). One registered
    // row covers both: a verdict block per table, labeled by `tbl`. The
    // phrase segment directory is only safe to delete when BOTH verdicts
    // fire — the postings and bigrams of one segment live and die
    // together. Rows-only (stored artifacts only); DuckDB replays both
    // blocks from the parquet alone (tools/compare_oracle.py), length-
    // prefixing the string terms exactly as segmentRetirementPlan does.
    QueryDef("q_c136_phrase_retirement", None) { (s, d) =>
      val segPath = phraseSegmentsIndex(s, d)
      val cPath = phraseCompactedIndex(s, segPath)
      def block(tbl: String, weight: Option[String]) =
        segmentRetirementPlan(
          Seq("seg0" -> s.read.parquet(s"$segPath/seg0/$tbl"),
            "seg1" -> s.read.parquet(s"$segPath/seg1/$tbl")),
          s.read.parquet(s"$cPath/$tbl"), weight)
          .select(lit(tbl).as("tbl"), col("segment"), col("n_rows"),
            col("checksum_a"), col("checksum_b"), col("retire"))
      block("postings", None)
        .unionByName(block("bigrams", Some("cnt")))
        .orderBy(col("tbl"), col("segment"))
    },

    // ---- q_c137: quality-classifier TRAINING (distributed logistic GD) ------
    // The missing trainer in the filtering trio: q_c31 is rules, q_c26 is
    // an LM score, q_c30 scores with FIXED hashed weights — this LEARNS
    // the weights (full-batch logistic regression over q_c30's own
    // 64-bucket feature space, labels distilled from the registered
    // rules filter). See [[QualityClassifierTrainer]] for the Lloyd-
    // pattern scale shape (one featurize scan, one 67-cell aggregation
    // per iteration, 65 doubles of driver model state) and the decimal
    // quantization that makes the trajectory order-independent. Learned
    // weights are driver model state (the q_c9/q_c33 class) ⇒ rows-only;
    // ClassifierTrainerSpec pins the all-integer trajectory to an
    // independent driver-side reference fold and proves the fit learns
    // (accuracy up, loss down, teacher agreement beyond the fixed model).
    QueryDef("q_c137_classifier_train", None) { (s, d) =>
      QualityClassifierTrainer.trajectoryDf(s, d, iters = 24)
    },

    // ---- q_c138: trained-classifier corpus scoring ---------------------------
    // The inference side of q_c137 (the q_c34 pattern): the learned
    // weights swapped into q_c30's plan shape — per-document margin,
    // keep/drop verdict, teacher label and agreement flag, one map-side
    // projection over the shared feature frame. Model state ⇒ rows-only;
    // spec pins scores to the reference fold's weights exactly.
    QueryDef("q_c138_classifier_scores", None) { (s, d) =>
      QualityClassifierTrainer.scoresDf(s, d, iters = 24)
    },

    // ---- q_c139: holdout-validated classifier training ----------------------
    // q_c137 with the production discipline: the gradient comes from the
    // REGISTERED q_c37 train split only, and every iteration reports
    // train AND val loss/agreement from one conditional aggregation (no
    // extra scan — the gateReport pivot pattern). Val docs never touch a
    // weight, so the val columns are an honest generalization readout
    // (the q_c113 clean-holdout discipline applied to training). Model
    // state ⇒ rows-only; ClassifierTrainerSpec pins the trajectory to
    // the reference fold restricted to the same split and proves val
    // loss falls with train loss.
    QueryDef("q_c139_classifier_holdout", None) { (s, d) =>
      QualityClassifierTrainer.splitTrajectoryDf(s, d, iters = 24)
    },

    // ---- q_c142: one-shot test-split evaluation ------------------------------
    // The final member of the train/val/test discipline: q_c139 trains
    // on the registered train split and reads val per iteration; this
    // row consumes the TEST split ([900, 1000)) exactly once, with the
    // final holdout-trained weights — the unbiased generalization
    // number a production filter gate ships with (no gradient, no
    // model-selection readout ever saw a test doc). ONE filtered scan
    // of the shared feature memo into a single all-integer row. Model
    // state ⇒ rows-only; ClassifierTrainerSpec pins the row to the
    // split-restricted reference fold exactly.
    QueryDef("q_c142_classifier_test_eval", None) { (s, d) =>
      QualityClassifierTrainer.testEvalDf(s, d, iters = 24)
    },

    // ---- q_c143: trained-model drift monitor ---------------------------------
    // The production trigger for RETRAINING: an ARRIVING batch (the
    // q_c70 append convention — doc_id % 10 = 3) is scored with the
    // STORED model artifact's weights, and its keep-rate AND mean
    // margin are compared to the training-time baseline persisted
    // INSIDE the artifact; the alarm fires at ≥ 100 permille keep-rate
    // divergence OR ≥ 100 000 micros mean-margin divergence (two
    // signals because a conservative all-drop model — this corpus —
    // never moves its keep rate, while its margin mean still tracks
    // the arriving text). Model state ⇒ rows-only;
    // ClassifierTrainerSpec pins the row against an independent fold
    // and proves the alarm fires on a constructed drifted batch and
    // stays quiet on the in-distribution one. DuckDB reproduces the
    // ENTIRE row from the artifact + documents alone
    // (tools/compare_oracle.py, eleventh parity row) — baseline off the
    // stored parquet, batch side re-scored from the stored weights.
    //
    // 100 TB shape: one map-side scoring projection over the BATCH
    // (never the training corpus) + one 3-cell aggregate + a broadcast
    // 1-row baseline read.
    QueryDef("q_c143_model_drift", None) { (s, d) =>
      val path = QualityClassifierTrainer.modelArtifact(s, d)
      QualityClassifierTrainer.driftReport(s, path,
        Tables(s, d, "documents").filter(col("doc_id") % 10 === 3))
    },

    // ---- q_c147: retrain-on-drift (the act the q_c143 alarm triggers) -------
    // The monitor→act→re-baseline loop, the model family's analog of
    // the q_c141 GC verb: a DETERMINISTIC drifted batch (50 one-token
    // docs targeting the bucket farthest from the stored model's
    // training-time mean — the largest constructible shift, re-derived
    // from the artifact alone) fires the q_c143 alarm (phase `pre`);
    // the pipeline's response is a RETRAIN from scratch over corpus ∪
    // batch (same GD, same teacher, via the shared featurize) persisted
    // as a second artifact whose baseline covers the union; phase
    // `post` scores the same batch against the refreshed model. Model
    // state ⇒ rows-only; ClassifierTrainerSpec pins BOTH rows to an
    // independent reference fold (including the retrained trajectory)
    // and proves the refit actually LEARNED the drift bucket (its
    // weight moves against the batch's teacher label). DuckDB
    // reproduces both rows from the two artifacts + documents alone —
    // drift bucket argmax, token lookup, batch construction, scoring
    // and alarms all re-derived in SQL (tools/compare_oracle.py,
    // fifteenth parity row).
    //
    // 100 TB shape: the batch scores are map-side; the retrain costs
    // `iters` aggregation-only scans of the union feature frame (the
    // q_c137 Lloyd shape) and the artifacts stay O(model).
    QueryDef("q_c147_retrain_on_drift", None) { (s, d) =>
      QualityClassifierTrainer.retrainReport(s, d)
    },

    // ---- q_c141: segment retirement GC (the verb the verdict certifies) -----
    // q_c133 CERTIFIES retire-ability; this query ACTS on it — the LSM
    // maintenance step a stored index actually runs: build segments,
    // compact, recompute the digest verdict, and DELETE the retired
    // segment directories (atomically gated: all segments certify or
    // none is dropped), journaling the decision to a gc_log the deleted
    // segments can no longer contradict. The emitted rows are the
    // PROOF-OF-SERVICE: the q_c45 BM25 search served from the post-GC
    // artifact (compacted postings + stats alone), with the GC outcome
    // (n_dropped from the journal, n_live_segments from the live
    // directory listing) on every row. Rows-only (stored artifacts
    // only); RetirementGcSpec proves search(pre-GC segments) ≡
    // search(post-GC) with the corpus DELETED first, and that a
    // tampered compaction refuses to drop anything; DuckDB reproduces
    // this entire frame from the artifact files alone
    // (tools/compare_oracle.py, tenth parity row).
    //
    // 100 TB shape: the verdict is one column-pruned scan per artifact
    // into additive digest state; the deletion is O(1) metadata; the
    // search reads only the query terms' postings. Nothing rescans the
    // corpus.
    QueryDef("q_c141_retirement_gc", None) { (s, d) =>
      val path = bm25GcIndex(s, d)
      gcServe(s, path,
        bm25SearchStored(s, s"$path/compacted", Seq("hash", "join", "filter")))
        .orderBy(col("bm25").desc, col("doc_id"))
    },

    // ---- q_c146: phrase-index retirement GC ---------------------------------
    // The q_c141 GC verb for the phrase family — the MULTI-TABLE case
    // the family-general gate exists for: a phrase segment stores BOTH
    // positional postings (row-mode digest) and a bigram count table
    // (weighted-mode digest, linear in cnt), and the directory may only
    // drop when BOTH tables certify — the q_c136 "live and die
    // together" invariant, now enforced by the ACTION. Frame = the
    // q_c103 phrase search served from the post-GC compacted artifact
    // + the GC outcome ([[gcServe]]). Rows-only (stored artifacts);
    // RetirementGcSpec proves post-GC search ≡ the pre-GC segment-union
    // search with the corpus deleted first; DuckDB reproduces the frame
    // from the GC'd artifact alone (tools/compare_oracle.py).
    //
    // 100 TB shape: digests are one column-pruned scan per table into
    // additive 1-row state; the search reads only the top-phrase terms.
    QueryDef("q_c146_phrase_gc", None) { (s, d) =>
      val path = phraseGcIndex(s, d)
      gcServe(s, path, phraseSearchStored(s, s"$path/compacted"))
        .orderBy(col("phrase"))
    },

    // ---- q_c148: cross-family GC audit pane ---------------------------------
    // The operations view over ALL FOUR families' GC journals: one row
    // per family — table count, journal rows, segments dropped
    // (DISTINCT — a multi-table family journals one row per table),
    // whether every verdict certified, and the LIVE segment count from
    // the filesystem (a drop claimed but not performed, or performed
    // but not journaled, shows up as n_dropped ≠ journal vs listing
    // disagreement). Rows-only (stored artifacts only); DuckDB
    // reproduces the whole pane from the four GC'd artifacts alone
    // (tools/compare_oracle.py, sixteenth parity row).
    //
    // 100 TB shape: four 1-row aggregations over O(segments)-row
    // journals + four directory listings. Nothing touches data.
    QueryDef("q_c148_gc_audit", None) { (s, d) =>
      Seq(
        "bm25" -> bm25GcIndex(s, d),
        "ivf" -> SimilarityQueries.int8GcIndex(s, d),
        "minhash" -> DedupQueries.minhashGcIndex(s, d),
        "phrase" -> phraseGcIndex(s, d))
        .map { case (fam, p) => gcAuditRow(s, fam, p) }
        .reduce(_.unionByName(_))
        .orderBy(col("family"))
    }
  )

  /** One q_c148 audit row over a GC'd artifact's journal + live
    * directory listing.
    */
  private def gcAuditRow(
      s: org.apache.spark.sql.SparkSession, fam: String,
      path: String): org.apache.spark.sql.DataFrame = {
    val segDir = new org.apache.hadoop.fs.Path(s"$path/segments")
    val fs = segDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val nLive = if (fs.exists(segDir)) fs.listStatus(segDir).length.toLong else 0L
    s.read.parquet(s"$path/gc_log").agg(
        countDistinct(col("tbl")).cast("long").as("n_tables"),
        count(lit(1)).cast("long").as("n_journal_rows"),
        countDistinct(when(col("action") === "dropped", col("segment")))
          .cast("long").as("n_dropped"),
        min(col("retire")).cast("long").as("all_certified"))
      .select(lit(fam).as("family"), col("n_tables"), col("n_journal_rows"),
        col("n_dropped"), col("all_certified"))
      .withColumn("n_live_segments", lit(nLive))
  }

  /** q_c133's verdict frame over any segment family: one digest row per
    * segment plus the compacted table's row, every row carrying the
    * atomic `retire` verdict (1 iff Σ segment digests == the compacted
    * digest on both 64-bit chunks AND row counts conserve). The
    * canonical row string pins column order, so schema drift between a
    * segment and the compacted table also breaks the digest (by
    * design — retiring segments whose reader would decode differently
    * is exactly the mistake this gate exists to catch).
    */
  private[graft] def segmentRetirementPlan(
      segments: Seq[(String, org.apache.spark.sql.DataFrame)],
      compacted: org.apache.spark.sql.DataFrame,
      weightCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val M = "1152921504606846976" // 2^60
    def digestOf(name: String, df: org.apache.spark.sql.DataFrame) = {
      // BINARY columns canonicalize through hex: concat_ws would cast
      // raw bytes to a (lossy) UTF-8 string, collapsing distinct codes
      // onto replacement characters — the int8-IVF q8 column is exactly
      // that shape. hex() is injective and engine-neutral. STRING
      // columns are length-prefixed (`<len>:<value>`) so the '|'-joined
      // row encoding stays injective even when a value CONTAINS '|'
      // (ADVICE round 16): the prefix makes the stream uniquely
      // decodable (read digits to ':', take len chars, expect '|'), so
      // adjacent-column content can never shift across the separator.
      // Numeric/hex renderings can't contain '|' and need no prefix —
      // and keeping them bare keeps the digest cheap and the DuckDB
      // replay one expression per column.
      val cols = df.schema.fields
        .filterNot(f => weightCol.contains(f.name))
        .sortBy(_.name).map { f =>
          f.dataType match {
            case org.apache.spark.sql.types.BinaryType => hex(col(f.name))
            case org.apache.spark.sql.types.StringType =>
              concat(length(col(f.name)).cast("string"), lit(":"), col(f.name))
            case _ => col(f.name)
          }
        }
      // WEIGHTED mode (weightCol set): digest = Σ chunk(key) · weight —
      // linear in the weight, so it is invariant under the aggregation
      // compaction applies to additive tables (Σ over segment rows of
      // chunk·cnt_i = Σ over compacted keys of chunk·Σcnt_i): the
      // retirement law for tables whose compaction SUMS rather than
      // unions (the phrase bigram table). n_rows then reports the total
      // weight (the conserved quantity) instead of the row count.
      // Unweighted mode is the wt = 1 special case and produces the
      // EXACT digests of the original formulation (Σ(c mod M) mod M =
      // Σc mod M — mod is additive).
      val wt = weightCol.map(c => col(c).cast("decimal(18,0)"))
        .getOrElse(lit(1).cast("decimal(18,0)"))
      df.select(md5(concat_ws("|", cols.toIndexedSeq: _*)).as("h"), wt.as("wt"))
        .select(PipelineQueries.md5ChunkA.as("c1"),
          PipelineQueries.md5ChunkB.as("c2"), col("wt"))
        .agg(sum(col("wt")).cast("long").as("n_rows"),
          expr(s"CAST(SUM(CAST(c1 % $M AS DECIMAL(20,0)) * wt) % $M AS BIGINT)")
            .as("checksum_a"),
          expr(s"CAST(SUM(CAST(c2 % $M AS DECIMAL(20,0)) * wt) % $M AS BIGINT)")
            .as("checksum_b"))
        .select(lit(name).as("segment"), col("n_rows"),
          col("checksum_a"), col("checksum_b"))
    }
    val segRows = segments.map { case (n, df) => digestOf(n, df) }
      .reduce(_ unionByName _)
    val compRow = digestOf("compacted", compacted)
    // Σ over the per-segment 60-bit digests, re-reduced mod 2^60 — the
    // additive law that makes the union provable without a row-level diff
    val segTotal = segRows.agg(
      sum(col("n_rows")).cast("long").as("u_rows"),
      expr(s"CAST(SUM(CAST(checksum_a AS DECIMAL(38,0))) % $M AS BIGINT)").as("u_a"),
      expr(s"CAST(SUM(CAST(checksum_b AS DECIMAL(38,0))) % $M AS BIGINT)").as("u_b"))
    val verdict = segTotal.crossJoin( // two 1-row frames
        compRow.select(col("n_rows").as("c_rows"),
          col("checksum_a").as("c_a"), col("checksum_b").as("c_b")))
      .select(when(col("u_rows") === col("c_rows")
        && col("u_a") === col("c_a") && col("u_b") === col("c_b"), 1L)
        .otherwise(0L).as("retire"))
    segRows.unionByName(compRow)
      .crossJoin(broadcast(verdict))
      .orderBy(col("segment"))
  }

  /** Adjacent-bigram frame (doc_id, w1, w2) over `documents` — the shared
    * generator for q_c80's estimation and q_c84's evaluation (map-only,
    * the q_c77 transform).
    */
  private[graft] def knBigrams(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    knBigramsOfTs(tokenArrays(docs))

  /** The house tokenization as a (doc_id, ts) array frame — the single
    * upstream of [[knBigrams]] and [[positionalTokens]], exposed so the
    * phrase-index build can tokenize ONCE and derive both stores.
    */
  private[graft] def tokenArrays(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))

  private def knBigramsOfTs(
      t: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    t.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** The Kneser-Ney statistics frames over a (w1, w2) bigram frame —
    * (cb bigram counts, lt left fan-out, ct continuation counts, dsc
    * discount triple) — the SINGLE definition q_c80 estimates with and
    * q_c84 evaluates against (a fork here would silently score a
    * different model than the one reported).
    */
  private[graft] def knBigramStats(bg: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val cb = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val lt = cb.groupBy(col("w1")).agg(
      sum(col("cnt")).cast("long").as("left_total"),
      count(lit(1)).cast("long").as("left_types"))
    val ct = cb.groupBy(col("w2"))
      .agg(count(lit(1)).cast("long").as("cont_types"))
    val dsc = cb.agg(
      sum(when(col("cnt") === 1, 1).otherwise(0)).cast("double").as("n1"),
      sum(when(col("cnt") === 2, 1).otherwise(0)).cast("double").as("n2"),
      count(lit(1)).cast("double").as("types"))
    (cb, lt, ct, dsc)
  }

  /** The absolute discount D = n1/(n1+2n2) (0.5 on degenerate corpora) —
    * over the dsc frame's columns; shared by q_c80 and q_c84.
    */
  private[graft] def knDiscount: org.apache.spark.sql.Column =
    when(col("n1") + lit(2) * col("n2") > 0,
      col("n1") / (col("n1") + lit(2) * col("n2"))).otherwise(lit(0.5))

  /** Training-slice (doc_id % 17 ≠ 3) vocabulary size as a 1-row DOUBLE
    * frame — q_c84's and q_c87's V, extracted so both evaluations smooth
    * the unseen-continuation rung against the SAME vocabulary (a fork
    * here would silently shift every deep-backoff score between the two
    * model orders).
    */
  private[graft] def knTrainVocab(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .filter(col("doc_id") % 17 =!= 3)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as("term"))
      .agg(countDistinct(col("term")).cast("double").as("v"))

  /** The interpolated-KN bigram probability ladder over the joined
    * statistics columns (cnt, left_total, left_types, cont_types from
    * [[knBigramStats]]; types from its dsc frame; v from
    * [[knTrainVocab]]) — q_c84's scoring expression, extracted verbatim
    * so q_c87's trigram backoff interpolates the IDENTICAL bigram model
    * q_c84 scores standalone. Rungs: observed bigram → discounted
    * interpolation; seen context → λ(w1)·p_cont; unseen context →
    * p_cont alone, with p_cont add-one-smoothed over (types + V) so
    * every rung stays > 0.
    */
  private[graft] def knBigramProb(
      cnt: org.apache.spark.sql.Column,
      leftTotal: org.apache.spark.sql.Column,
      leftTypes: org.apache.spark.sql.Column,
      contTypes: org.apache.spark.sql.Column,
      types: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dd = knDiscount
    val pc = (coalesce(contTypes, lit(0L)).cast("double") + 1) / (types + v)
    val lam = dd * leftTypes.cast("double") / leftTotal.cast("double")
    when(cnt.isNotNull,
      (cnt.cast("double") - dd) / leftTotal.cast("double") + lam * pc)
      .when(leftTotal.isNotNull, lam * pc)
      .otherwise(pc)
  }

  /** Adjacent-trigram frame (doc_id, w1, w2, w3) over `documents` — the
    * [[knBigrams]] generator one order up (map-only), shared by q_c87's
    * training and held-out slices.
    */
  private[graft] def knTrigrams(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 3), i -> struct(ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))

  /** Trigram-order KN statistics over a (w1, w2, w3) frame — (c3 trigram
    * counts as cnt3, lt3 context fan-out as ctx_total/ctx_types, dsc3
    * discount pair as n1_3/n2_3). Column names deliberately disjoint
    * from [[knBigramStats]]' so both orders join into one scoring frame
    * without aliasing.
    */
  private[graft] def knTrigramStats(tg: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val c3 = tg.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).cast("long").as("cnt3"))
    val lt3 = c3.groupBy(col("w1"), col("w2")).agg(
      sum(col("cnt3")).cast("long").as("ctx_total"),
      count(lit(1)).cast("long").as("ctx_types"))
    val dsc3 = c3.agg(
      sum(when(col("cnt3") === 1, 1).otherwise(0)).cast("double").as("n1_3"),
      sum(when(col("cnt3") === 2, 1).otherwise(0)).cast("double").as("n2_3"))
    (c3, lt3, dsc3)
  }

  /** q_c26's per-document unigram NLL frame (doc_id, n_tokens, avg_nll) —
    * extracted so q_c76's bucket assignment consumes the IDENTICAL score
    * pipeline (no semantic fork). The tf frame is deterministic per
    * (session, documents snapshot), so it lives in the SessionMemo like
    * the dedup garr: repeat invocations (and any future tf consumer)
    * skip the tokenize scan and the (doc, term) shuffle entirely; the
    * memo measures the frame and degrades to per-query drain/disk tier
    * if it outgrows budget. The vocab join shuffles on term (Heaps-law
    * bounded but NOT broadcastable at corpus scale); only the 1-row
    * total rides a broadcast (PlanShapeSpec pins both).
    */
  private[graft] def docNll(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val tf = tfUnigram(s, d)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("n_tokens"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).cast("long").as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).cast("double").as("tot"))
    val scored = tf
      .join(vocab, Seq("term")) // term-keyed shuffle join: vocab is corpus-sized state
      .crossJoin(broadcast(tot))
      .withColumn("tscore",
        dec(col("tf") * -log(col("cnt").cast("double") / col("tot"))))
    val agg = scored.groupBy(col("doc_id")).agg(dec(sum(col("tscore"))).as("nll"))
    dl.join(agg, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        emit((col("nll") / dec(col("n_tokens"))).cast(D38)).as("avg_nll"))
  }

  /** Corpus term totals off the shared tf_unigram memo (one tokenize per
    * session; one map-side-combined agg per call).
    */
  private[graft] def termCounts(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    tfUnigram(s, d).groupBy(col("term")).agg(sum(col("tf")).cast("long").as("cnt"))

  /** q_c108's spectrum tail over a (term, cnt) frame — ONE copy shared
    * by the batch query and the streaming serve
    * ([[graft.streaming.StreamingOps.spectrumServe]]), so the bucket /
    * mass-share / Good-Turing rules cannot fork.
    */
  private[graft] def spectrumReport(
      tc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ff = tc
      .groupBy(col("cnt")).agg(count(lit(1)).cast("long").as("n_r"))
      .withColumnRenamed("cnt", "r")
    val tot = ff.agg(sum(col("r") * col("n_r")).cast("long").as("total_tokens"))
    // next-bucket branch re-aliased column-by-column (fresh exprIds):
    // both sides of the self-join can be the SAME plan node on the
    // memory-sink serve path (the q_c93/q_c101 lesson)
    val nx = ff.select((col("r") - 1).as("r_x"), col("n_r").as("n_next"))
    ff.join(nx, col("r_x") === col("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        (col("r") * col("n_r")).cast("long").as("mass"),
        expr("CAST(r * n_r * 1000 DIV total_tokens AS BIGINT)").as("mass_share_pm"),
        emit((dec(coalesce((col("r") + 1) * col("n_next"), lit(0L)))
          / dec(col("n_r"))).cast(D38)).as("gt_rstar"))
      .orderBy(col("r"))
  }

  /** q_c69's per-source KL pipeline up to (but excluding) the emit —
    * (source, ns, n_terms, klsum) with klsum the exact DECIMAL(18,6) sum
    * of quantized per-term contributions. ONE copy shared by the q_c69
    * diagnostic and q_c99's weight table (the knBigramProb extraction
    * discipline: the rung is the EXACT q_c69 model, not a re-derivation).
    */
  private[graft] def sourceKlFrame(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val tf = tfUnigram(s, d)
    val srcOf = Tables.raw(s, d, "documents").select(col("doc_id"), col("source"))
    val st = tf.join(srcOf, Seq("doc_id"))
      .groupBy(col("source"), col("term"))
      .agg(sum(col("tf")).cast("long").as("cst"))
    val ns = st.groupBy(col("source")).agg(sum(col("cst")).cast("long").as("ns"))
    val ct = st.groupBy(col("term")).agg(sum(col("cst")).cast("long").as("ct"))
    val nc = ct.agg(sum(col("ct")).cast("double").as("nc"))
    val k = st.join(broadcast(ns), Seq("source"))
      .join(ct, Seq("term")) // term-keyed shuffle: ct is corpus-sized state
      .crossJoin(broadcast(nc))
      .withColumn("kterm",
        dec((col("cst").cast("double") / col("ns").cast("double")) *
          log((col("cst").cast("double") * col("nc"))
            / (col("ns").cast("double") * col("ct").cast("double")))))
    k.groupBy(col("source"))
      .agg(dec(sum(col("kterm"))).as("klsum"), count(lit(1)).cast("long").as("n_terms"))
      .join(broadcast(ns), Seq("source"))
  }

  /** q_c74's CMS hash family: slot_i = ((a_i·th + b_i) mod p) mod width,
    * th = the house rolling hash of the term — all integer, so DuckDB
    * derives the identical grid.
    */
  private[graft] val cmsParams: Seq[(Long, Long)] =
    Seq((487198041L, 259200101L), (741932517L, 373587883L), (268435399L, 608135813L))

  private[graft] val cmsWidth = 1024

  /** (term, cnt) → (term, cnt, s0, s1, s2). */
  private[graft] def cmsSlots(tc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.PolyHash.register(tc.sparkSession)
    val th = tc.withColumn("th", expr("poly_hash(term)"))
    cmsParams.zipWithIndex.foldLeft(th) { case (acc, ((a, b), i)) =>
      acc.withColumn(s"s$i", ((lit(a) * col("th") + lit(b)) % 1000000007L) % cmsWidth)
    }
  }

  /** The depth-3 × width-1024 counter grid from a slotted term-count
    * frame: (row_i, slot, c), ≤ 3·1024 rows. LINEAR in its input —
    * sketch(A ∪ B) = cellwise sum of sketch(A) and sketch(B)
    * (CmsSketchSpec pins it), which is what makes the sketch a one-pass
    * mergeable summary across shards or stream batches.
    */
  private[graft] def cmsSketch(sl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cmsParams.indices
      .map(i => sl.select(lit(i).as("row_i"), col(s"s$i").as("slot"), col("cnt")))
      .reduce(_ unionByName _)
      .groupBy(col("row_i"), col("slot"))
      .agg(sum(col("cnt")).cast("long").as("c"))

  /** q_c30's classifier as a pure projection over a (doc_id, text) frame —
    * shared verbatim by the batch query (plus its presentation sort) and
    * the stateless streaming twin ([[graft.streaming.StreamingOps
    * .classifierScores]]): the model-based filter applies per-document,
    * so the SAME plan scores a stream in append mode with zero state.
    */
  /** SINGLE definition of the session-memoized (doc_id, term, tf) frame
    * under the shared `tf_unigram` key — the corpus tokenize consumed by
    * q_c26, q_c44, q_c49 and q_c50. One definition matters beyond tidiness:
    * `SessionMemo.getOrBuild` ignores the builder on a warm hit, so
    * divergent inline copies under one key would be a first-run-wins
    * semantic fork with no test signal.
    */
  private[graft] def tfUnigram(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.core.SessionMemo.getOrBuild(
      s, "tf_unigram", d, Seq(s"$d/documents.parquet")) {
      Tables(s, d, "documents")
        .select(
          col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    }

  /** Build the persistent BM25 postings index under `path`: postings
    * (term, doc_id, tf, dl) RANGE-PARTITIONED and sorted by term — so
    * every parquet row group covers a narrow term interval and a term
    * predicate prunes row groups by min/max stats — plus the 2-scalar
    * corpus stats table. One corpus tokenize, run once per corpus
    * version (the buildInt8Index lifecycle).
    */
  /** The (postings, stats) pair for a documents frame — shared by the
    * full-corpus index build, the base-corpus build (q_c70's append
    * scenario), and the in-flight batch side of the append itself.
    */
  private def postingsOf(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val toks = docs.select(
      col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = toks.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val post = tf.join(dl, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).cast("double").as("tot"))
    (post, stats)
  }

  private[graft] def buildPostingsIndex(
      s: org.apache.spark.sql.SparkSession, d: String, path: String): Unit = {
    val (post, stats) = postingsOf(Tables(s, d, "documents"))
    post
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$path/postings")
    stats.write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Session-stable index location for a corpus dir — the shared
    * SessionMemo stored-entry lifecycle (content-snapshot guard,
    * per-key build latch, deferred deletion of abandoned snapshots): a
    * warm session reuses the on-disk index across queries — the whole
    * point of the stored form.
    */
  private[graft] def postingsIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "bm25-index", d, Seq(s"$d/documents.parquet")) {
      path => buildPostingsIndex(s, d, path)
    }

  /** The BASE-corpus (doc_id % 10 <> 3) postings index for q_c70's
    * append scenario — same lifecycle, its own cache key.
    */
  private[graft] def postingsBaseIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "bm25-base", d, Seq(s"$d/documents.parquet")) { path =>
      val (post, stats) = postingsOf(
        Tables(s, d, "documents").filter(col("doc_id") % 10 =!= 3))
      post
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/postings")
      stats.write.mode("overwrite").parquet(s"$path/stats")
    }

  /** The full-corpus BM25 top-20 oracle — ONE text shared by q_c45
    * (stored search), q_c70 (append) and q_c123 (compaction): all three
    * must reproduce the one-shot full-corpus scoring, whatever the
    * stored layout, so their oracles cannot be allowed to fork.
    */
  private[graft] lazy val duckBm25FullCorpus: String =
    s"""WITH $duckBm25Cte
       |SELECT doc_id, bm25 FROM bm
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** The CTE chain ending in `bm(doc_id, bm25)` — split out of
    * [[duckBm25FullCorpus]] so q_c127's fusion oracle shares the scoring
    * text.
    */
  private[graft] lazy val duckBm25Cte: String =
    """toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS tot FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
      |       WHERE term IN ('hash','join','filter') GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
      |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / (s.tot / s.n_docs)))
      |      AS DECIMAL(18,6)) AS tscore
      |  FROM tf t JOIN dl d USING (doc_id) JOIN dfq q USING (term) CROSS JOIN stats s),
      |bm AS (SELECT doc_id, CAST(SUM(tscore) AS DOUBLE) AS bm25
      |       FROM scored GROUP BY 1)""".stripMargin

  /** q_c123's SEGMENTED index: the layout the q_c70 append discipline
    * produces in production — each batch persisted as its own
    * term-sorted postings segment (seg0 = the base corpus, seg1 = the
    * arriving doc_id % 10 = 3 batch) plus a per-segment row of the
    * additive (n_docs, tot) stats. Building a segment costs one
    * tokenize of THAT slice only.
    */
  private[graft] def bm25SegmentsIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "bm25-segments", d, Seq(s"$d/documents.parquet")) { path =>
      writeBm25Segment(Tables(s, d, "documents")
        .filter(col("doc_id") % 10 =!= 3), s"$path/seg0")
      writeBm25Segment(Tables(s, d, "documents")
        .filter(col("doc_id") % 10 === 3), s"$path/seg1")
    }

  private def writeBm25Segment(
      docs: org.apache.spark.sql.DataFrame, segPath: String): Unit = {
    val (post, stats) = postingsOf(docs)
    post
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$segPath/postings")
    stats.write.mode("overwrite").parquet(s"$segPath/stats")
  }

  /** The COMPACTED artifact: segments merged back into one
    * term-range-sorted postings table + summed stats. Keyed on the
    * SEGMENT directory's content snapshot — compaction is a function of
    * the stored segments alone (it never reads the corpus), and the key
    * says so.
    */
  private[graft] def bm25CompactedIndex(
      s: org.apache.spark.sql.SparkSession, segPath: String): String =
    graft.core.SessionMemo.stored(s, "bm25-compacted", segPath, Seq(segPath)) { path =>
      s.read.parquet(s"$segPath/seg0/postings", s"$segPath/seg1/postings")
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/postings")
      s.read.parquet(s"$segPath/seg0/stats", s"$segPath/seg1/stats")
        .agg(sum(col("n_docs")).cast("double").as("n_docs"),
          sum(col("tot")).cast("double").as("tot"))
        .write.mode("overwrite").parquet(s"$path/stats")
    }

  /** The retirement GC VERB — the action the q_c133-class verdict
    * certifies, family-general: `tables` names every table a segment
    * directory stores, with the optional weight column of the
    * weighted-digest (per-key SUM compaction) shape — ("postings",
    * None) for BM25, ("sigs", None) for MinHash, ("codes", None) for
    * int8-IVF, and BOTH ("postings", None) + ("bigrams", Some("cnt"))
    * for the phrase family, whose tables live and die together.
    * Recomputes the digest verdict over the given segment table paths
    * vs the compacted tables, and ONLY if EVERY (table × segment)
    * verdict fires (Σ segment digests ≡ compacted digest on both
    * 64-bit chunks AND rows conserve) deletes the segment directories;
    * otherwise every directory is kept — the gate can refuse
    * (RetirementGcSpec proves a tampered compaction keeps the
    * segments). Returns the journal rows (tbl, segment, n_rows,
    * checksum_a, checksum_b, retire, action) the caller persists as
    * the artifact's gc_log: the deletion decision stays auditable by
    * any engine after the segments are gone.
    */
  private[graft] def retirementGc(
      s: org.apache.spark.sql.SparkSession,
      segments: Seq[(String, String)],
      compactedRoot: String,
      tables: Seq[(String, Option[String])])
      : Seq[(String, String, Long, Long, Long, Long, String)] = {
    val verdicts = tables.map { case (tbl, weight) =>
      tbl -> segmentRetirementPlan(
        segments.map { case (n, p) => n -> s.read.parquet(s"$p/$tbl") },
        s.read.parquet(s"$compactedRoot/$tbl"), weight)
        .collect()
    }
    // ALL tables of ALL segments must certify before ANY directory is
    // dropped: the compacted set replaces the whole segment set, so a
    // single failing (table, segment) means the compaction is not a
    // faithful union and nothing may go
    val retireAll =
      verdicts.forall(_._2.forall(_.getAs[Long]("retire") == 1L))
    if (retireAll) {
      val conf = s.sparkContext.hadoopConfiguration
      segments.foreach { case (_, p) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).delete(hp, true); ()
      }
    }
    verdicts.flatMap { case (tbl, verdict) =>
      verdict.toSeq.map { r =>
        val seg = r.getAs[String]("segment")
        val action =
          if (seg == "compacted") "kept"
          else if (retireAll) "dropped" else "kept"
        (tbl, seg, r.getAs[Long]("n_rows"), r.getAs[Long]("checksum_a"),
          r.getAs[Long]("checksum_b"), r.getAs[Long]("retire"), action)
      }
    }
  }

  /** Persist [[retirementGc]] journal rows as a GC artifact's gc_log. */
  private[graft] def writeGcLog(
      s: org.apache.spark.sql.SparkSession,
      log: Seq[(String, String, Long, Long, Long, Long, String)],
      path: String): Unit = {
    val sp = s
    import sp.implicits._
    log.toDF("tbl", "segment", "n_rows", "checksum_a", "checksum_b",
        "retire", "action")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/gc_log")
  }

  /** The GC proof-of-service tail shared by all four families' GC rows
    * (q_c141/q_c144/q_c145/q_c146): the family's search frame served
    * from the post-GC artifact, with the GC outcome on every row —
    * n_dropped re-counted from the journal (DISTINCT segments with a
    * dropped action — a multi-table family journals one row per table
    * but drops each directory once) and n_live_segments from the LIVE
    * directory listing, so a drop the engine claimed but did not
    * perform (or performed but did not journal) contradicts the frame.
    */
  private[graft] def gcServe(
      s: org.apache.spark.sql.SparkSession, path: String,
      search: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nDropped = s.read.parquet(s"$path/gc_log")
      .filter(col("action") === "dropped")
      .agg(countDistinct(col("segment")).cast("long").as("n_dropped"))
    val segDir = new org.apache.hadoop.fs.Path(s"$path/segments")
    val fs = segDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val nLive = if (fs.exists(segDir)) fs.listStatus(segDir).length.toLong else 0L
    search
      .crossJoin(broadcast(nDropped))
      .withColumn("n_live_segments", lit(nLive))
  }

  /** q_c141's GC'd BM25 artifact — segments built, compacted, verdict
    * computed, retired segments DELETED, journal written; its OWN
    * artifact copy (the shared q_c123 segments artifact must stay
    * intact for q_c133's replay — GC is destructive by design, so it
    * never acts on another query's store).
    */
  private[graft] def bm25GcIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "bm25-gc", d, Seq(s"$d/documents.parquet")) { path =>
      writeBm25Segment(Tables(s, d, "documents")
        .filter(col("doc_id") % 10 =!= 3), s"$path/segments/seg0")
      writeBm25Segment(Tables(s, d, "documents")
        .filter(col("doc_id") % 10 === 3), s"$path/segments/seg1")
      s.read.parquet(s"$path/segments/seg0/postings", s"$path/segments/seg1/postings")
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$path/compacted/postings")
      s.read.parquet(s"$path/segments/seg0/stats", s"$path/segments/seg1/stats")
        .agg(sum(col("n_docs")).cast("double").as("n_docs"),
          sum(col("tot")).cast("double").as("tot"))
        .write.mode("overwrite").parquet(s"$path/compacted/stats")
      writeGcLog(s, retirementGc(s,
        Seq("seg0" -> s"$path/segments/seg0", "seg1" -> s"$path/segments/seg1"),
        s"$path/compacted", Seq("postings" -> None)), path)
    }

  /** BM25 top-20 served from the stored index: the scan reads ONLY the
    * query terms' postings (term IN (...) pushes into parquet; row-group
    * stats prune the rest), df comes from the fetched postings themselves
    * (they are complete per term), and the scoring arithmetic is
    * byte-for-byte q_c12's — StoredBm25Spec pins stored ≡ derived.
    */
  private[graft] def bm25SearchStored(
      s: org.apache.spark.sql.SparkSession, path: String,
      query: Seq[String]): org.apache.spark.sql.DataFrame =
    bm25Score(
      s.read.parquet(s"$path/postings"),
      s.read.parquet(s"$path/stats"), query)

  /** The BM25 scoring tail over a postings frame + a 1-row stats frame —
    * shared verbatim by the stored search (q_c45) and the incremental
    * append path (q_c70), so the two can never drift. df is derived at
    * query time from the (term-pruned) postings scan, which is what
    * makes postings APPEND-ONLY maintainable: no stored statistic except
    * the additive (n_docs, tot) pair depends on the corpus as a whole.
    */
  private[graft] def bm25Score(
      postings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      query: Seq[String]): org.apache.spark.sql.DataFrame =
    bm25Scores(postings, stats, query)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** The full (doc_id, bm25) score frame behind [[bm25Score]]'s top-20 —
    * exposed separately so q_c127's rank-fusion can cap at its own list
    * length while the scoring arithmetic stays single-copy.
    */
  private[graft] def bm25Scores(
      postings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      query: Seq[String]): org.apache.spark.sql.DataFrame = {
    val post = postings.filter(col("term").isin(query: _*))
    val dfq = post.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    post
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("tscore", dec(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("tot") / col("n_docs"))))))
      .groupBy(col("doc_id"))
      .agg(emit(sum(col("tscore"))).as("bm25"))
  }

  /** Positional token frame (term, doc_id, pos) over a documents frame —
    * the q_c45 tokenization ('[a-z0-9]+' over lower(text)) with the token
    * index kept. Map-only (the knBigrams transform+explode shape, no
    * window shuffle).
    */
  private[graft] def positionalTokens(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    positionalTokensOfTs(tokenArrays(docs))

  private def positionalTokensOfTs(
      t: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    t.filter(size(col("ts")) >= 1)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 1), i -> struct(CAST(i AS BIGINT) AS pos, ts[i] AS term))"))
        .as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("p.pos").as("pos"))

  /** The brute-force full-corpus phrase report oracle — ONE text shared
    * by q_c103 (stored search), q_c107 (append) and q_c128 (compaction):
    * all three must reproduce the lead-window adjacency scan, whatever
    * the stored layout.
    */
  private[graft] lazy val duckPhraseBrute: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |bg AS (SELECT doc_id, ts[i+1] AS w1, ts[i+2] AS w2
      |       FROM (SELECT doc_id, ts, unnest(range(len(ts) - 1)) AS i FROM t WHERE len(ts) >= 2)),
      |top AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2
      |        ORDER BY cnt DESC, w1, w2 LIMIT 5),
      |hits AS (SELECT b.w1, b.w2, b.doc_id
      |         FROM bg b JOIN top tp ON b.w1 = tp.w1 AND b.w2 = tp.w2)
      |SELECT w1 || ' ' || w2 AS phrase,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_occ,
      |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
      |FROM hits GROUP BY w1, w2 ORDER BY phrase""".stripMargin

  /** Build the positional phrase index at `path` over a documents frame
    * (the FULL corpus for q_c103/q_c106, the doc_id % 10 <> 3 base for
    * q_c107 — ONE recipe, so the two stores cannot drift in layout or
    * tokenization): term-range-partitioned positional postings
    * (term, doc_id, pos) — the q_c45 layout plus the position column —
    * and the bigram-count table (w1, w2, cnt) derived through the SHARED
    * [[knBigrams]] adjacency definition. The tokenized (doc_id, ts)
    * frame is persisted across the two writes, so a build costs ONE
    * tokenize of the corpus plus the two keyed writes.
    */
  private[graft] def buildPhraseIndex(
      s: org.apache.spark.sql.SparkSession, docs: org.apache.spark.sql.DataFrame,
      path: String): Unit = {
    val ts = tokenArrays(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      positionalTokensOfTs(ts)
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col("doc_id"), col("pos"))
        .write.mode("overwrite").parquet(s"$path/postings")
      knBigramsOfTs(ts)
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .write.mode("overwrite").parquet(s"$path/bigrams")
    } finally {
      ts.unpersist()
      ()
    }
  }

  /** Session-stable phrase-index location for a corpus dir — the shared
    * SessionMemo stored-entry lifecycle (content-snapshot guard,
    * per-key build latch, deferred deletion), exactly [[postingsIndex]].
    */
  private[graft] def phraseIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "phrase-index", d, Seq(s"$d/documents.parquet")) {
      path => buildPhraseIndex(s, Tables(s, d, "documents"), path)
    }

  /** The BASE-corpus (doc_id % 10 <> 3) phrase index for q_c107's append
    * scenario — same lifecycle and the same [[buildPhraseIndex]] recipe,
    * its own cache key (the postingsBaseIndex pattern).
    */
  private[graft] def phraseBaseIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "phrase-base", d, Seq(s"$d/documents.parquet")) { path =>
      buildPhraseIndex(s,
        Tables(s, d, "documents").filter(col("doc_id") % 10 =!= 3), path)
    }

  /** q_c128's SEGMENTED phrase index — each corpus slice built as its
    * own segment via the SAME [[buildPhraseIndex]] recipe (seg0 = the
    * doc_id % 10 <> 3 base, seg1 = the arriving batch), the bm25
    * segments pattern.
    */
  private[graft] def phraseSegmentsIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "phrase-segments", d, Seq(s"$d/documents.parquet")) { path =>
      buildPhraseIndex(s,
        Tables(s, d, "documents").filter(col("doc_id") % 10 =!= 3), s"$path/seg0")
      buildPhraseIndex(s,
        Tables(s, d, "documents").filter(col("doc_id") % 10 === 3), s"$path/seg1")
    }

  /** The COMPACTED phrase artifact: segment postings merged into one
    * term-range-sorted table, segment bigram tables summed. Keyed on the
    * segment directory's snapshot — compaction is a function of the
    * stored segments alone.
    */
  private[graft] def phraseCompactedIndex(
      s: org.apache.spark.sql.SparkSession, segPath: String): String =
    graft.core.SessionMemo.stored(s, "phrase-compacted", segPath, Seq(segPath)) { path =>
      s.read.parquet(s"$segPath/seg0/postings", s"$segPath/seg1/postings")
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col("doc_id"), col("pos"))
        .write.mode("overwrite").parquet(s"$path/postings")
      s.read.parquet(s"$segPath/seg0/bigrams", s"$segPath/seg1/bigrams")
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("cnt")).cast("long").as("cnt"))
        .write.mode("overwrite").parquet(s"$path/bigrams")
    }

  /** q_c146's GC'd phrase artifact — segments built, compacted (postings
    * by union, bigrams by per-key sum), BOTH tables' verdicts computed,
    * retired segment directories DELETED only when every verdict fires,
    * journal written; its OWN artifact copy (GC is destructive by
    * design — it never acts on q_c136's shared segments store).
    */
  private[graft] def phraseGcIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionMemo.stored(s, "phrase-gc", d, Seq(s"$d/documents.parquet")) { path =>
      buildPhraseIndex(s,
        Tables(s, d, "documents").filter(col("doc_id") % 10 =!= 3),
        s"$path/segments/seg0")
      buildPhraseIndex(s,
        Tables(s, d, "documents").filter(col("doc_id") % 10 === 3),
        s"$path/segments/seg1")
      s.read.parquet(s"$path/segments/seg0/postings", s"$path/segments/seg1/postings")
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col("doc_id"), col("pos"))
        .write.mode("overwrite").parquet(s"$path/compacted/postings")
      s.read.parquet(s"$path/segments/seg0/bigrams", s"$path/segments/seg1/bigrams")
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("cnt")).cast("long").as("cnt"))
        .write.mode("overwrite").parquet(s"$path/compacted/bigrams")
      writeGcLog(s, retirementGc(s,
        Seq("seg0" -> s"$path/segments/seg0", "seg1" -> s"$path/segments/seg1"),
        s"$path/compacted",
        Seq("postings" -> None, "bigrams" -> Some("cnt"))), path)
    }

  /** The top-`nPhrases` corpus bigrams (count-desc, lexicographic
    * tie-break — a total order, so both engines cut the same set) from a
    * stored bigram table, held driver-side (the bm25SearchStored
    * query-term pattern, bounded model state). ONE selection shared by
    * q_c103's adjacency search and q_c106's proximity search — the two
    * reports must rank the SAME phrase set or their comparison is
    * meaningless.
    */
  private[graft] def topPhrases(
      s: org.apache.spark.sql.SparkSession, bigrams: org.apache.spark.sql.DataFrame,
      nPhrases: Int): Array[(String, String)] =
    bigrams
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(nPhrases)
      .select(col("w1"), col("w2"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))

  /** The positional co-occurrence frame behind both stored searches:
    * (w1, w2, doc_id, dist) for every ordered pair of query-term
    * occurrences within `maxDist` positions. The join touches ONLY the
    * query terms' postings — the term IN (...) literal pushes into the
    * parquet scan, so a query costs O(matching postings), never
    * O(corpus).
    */
  private def phraseOccurrences(
      s: org.apache.spark.sql.SparkSession, postings: org.apache.spark.sql.DataFrame,
      top: Array[(String, String)], maxDist: Int): org.apache.spark.sql.DataFrame = {
    val terms = top.flatMap(p => Seq(p._1, p._2)).distinct.toSeq
    import s.implicits._
    val phr = top.toSeq.toDF("w1", "w2")
    val post = postings.filter(col("term").isin(terms: _*))
    val a = post.select(col("term").as("w1"), col("doc_id"), col("pos"))
    val b = post.select(
      col("term").as("w2_b"), col("doc_id").as("doc_b"), col("pos").as("pos_b"))
    a.join(broadcast(phr), Seq("w1"))
      .join(b,
        col("w2_b") === col("w2") && col("doc_b") === col("doc_id") &&
          col("pos_b") > col("pos") && col("pos_b") <= col("pos") + maxDist)
      .select(col("w1"), col("w2"), col("doc_id"),
        (col("pos_b") - col("pos")).cast("long").as("dist"))
  }

  /** q_c103's phrase search served from the stored index (adjacency =
    * distance exactly 1).
    */
  private[graft] def phraseSearchStored(
      s: org.apache.spark.sql.SparkSession, path: String,
      nPhrases: Int = 5): org.apache.spark.sql.DataFrame =
    phraseReport(s, s.read.parquet(s"$path/postings"),
      s.read.parquet(s"$path/bigrams"), nPhrases)

  /** The q_c103 report tail over explicit postings + bigram frames —
    * shared by the stored search and q_c107's append path, so the two
    * cannot drift.
    */
  private[graft] def phraseReport(
      s: org.apache.spark.sql.SparkSession, postings: org.apache.spark.sql.DataFrame,
      bigrams: org.apache.spark.sql.DataFrame, nPhrases: Int = 5): org.apache.spark.sql.DataFrame =
    phraseOccurrences(s, postings, topPhrases(s, bigrams, nPhrases), maxDist = 1)
      .groupBy(col("w1"), col("w2"))
      .agg(
        countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_occ"),
        min(col("doc_id")).cast("long").as("first_doc"),
        max(col("doc_id")).cast("long").as("last_doc"))
      .select(concat_ws(" ", col("w1"), col("w2")).as("phrase"),
        col("n_docs"), col("n_occ"), col("first_doc"), col("last_doc"))
      .orderBy(col("phrase"))

  /** q_c106's proximity search: the SAME phrase set, but matched under
    * an ordered window of `slop` positions — one positional join
    * computes both the strict-adjacency and the windowed statistics, so
    * the expansion ratio is internally consistent by construction.
    */
  private[graft] def proximitySearchStored(
      s: org.apache.spark.sql.SparkSession, path: String,
      nPhrases: Int = 5, slop: Int = 3): org.apache.spark.sql.DataFrame =
    phraseOccurrences(s, s.read.parquet(s"$path/postings"),
      topPhrases(s, s.read.parquet(s"$path/bigrams"), nPhrases), maxDist = slop)
      .groupBy(col("w1"), col("w2"))
      .agg(
        countDistinct(when(col("dist") === 1, col("doc_id")))
          .cast("long").as("n_docs_adj"),
        countDistinct(col("doc_id")).cast("long").as("n_docs_prox"),
        sum(when(col("dist") === 1, 1L).otherwise(0L)).cast("long").as("n_occ_adj"),
        count(lit(1)).cast("long").as("n_occ_prox"))
      .select(concat_ws(" ", col("w1"), col("w2")).as("phrase"),
        col("n_docs_adj"), col("n_docs_prox"), col("n_occ_adj"), col("n_occ_prox"),
        expr("CAST(n_docs_prox * 1000 DIV n_docs_adj AS BIGINT)").as("expansion_pm"))
      .orderBy(col("phrase"))

  /** q_c38's entropy signal as a pure projection over a (doc_id, text)
    * frame — shared by the batch query (plus its presentation sort) and
    * the stateless streaming twin ([[graft.streaming.StreamingOps
    * .entropyStats]]): the native kernel applies per document, so the
    * SAME plan scores a stream in append mode with zero state.
    */
  private[graft] def entropyProjection(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.CharBigramStats.register(docs.sparkSession)
    docs
      .select(col("doc_id"), expr("char_bigram_stats(text)").as("st"))
      .select(
        col("doc_id"),
        col("st.n_bigrams").as("n_bigrams"),
        col("st.n_distinct").as("n_distinct"),
        // ent_s is Σ micros(DECIMAL(18,6) terms): exact decimal at 10⁻⁶
        dec(expr("CAST(st.ent_s AS DECIMAL(18,0)) / 1000000")).as("sm"))
      .select(
        col("doc_id"), col("n_bigrams"), col("n_distinct"),
        emit(
          when(col("n_bigrams") === 0, lit(0).cast(D38))
            .otherwise((col("sm") / dec(col("n_bigrams"))).cast(D38)))
          .as("entropy"))
  }

  /** The classifier's integer core — (doc_id, n_tokens, wsum) before the
    * score emission. Shared by [[classifierProjection]] (q_c30 / q_c49 /
    * the streaming twin) and PipelineQueries' quality-curriculum schedule
    * (q_c65), which needs the raw integer signal for a deterministic
    * ordering key rather than the emitted double score.
    */
  /** token (lambda var `w`) → hashed feature bucket in [0, 64): q_c8's
    * rolling char hash mod 64 — the ONE bucket rule shared by q_c30's
    * fixed-weight classifier and q_c137's TRAINED classifier features
    * ([[QualityClassifierTrainer]]); a fork here would train on a
    * different feature space than the fixed model scores.
    */
  private[graft] val tokenBucket64: String =
    // codegen'd poly_hash kernel (identical values to the HOF char fold —
    // PolyHashSpec); callers register via [[registerPolyHash]] first
    "(poly_hash(w) % 64)"

  /** Register the poly-hash kernel for plans that embed
    * [[tokenBucket64]] (idempotent).
    */
  private[graft] def registerPolyHash(s: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.PolyHash.register(s)

  private[graft] def classifierRaw(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    registerPolyHash(docs.sparkSession)
    docs
      .select(
        col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr(s"""aggregate(toks, 0L, (acc, w) ->
                |  acc + ($tokenBucket64 * 1103515245L + 12345L) % 2048L - 1024L)""".stripMargin)
          .as("wsum"))
  }

  /** Session-memoized [[classifierRaw]] over the corpus: q_c30 and
    * q_c65 (PipelineQueries' curriculum) both consume the identical
    * integer signal, so per Verify/Bench session the nested
    * token-hash fold runs once (the tf_unigram / minhash_cand
    * discipline). Streaming stays on the per-batch projection —
    * a memo has no meaning across micro-batches.
    */
  private[graft] def classifierRawShared(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.core.SessionMemo.getOrBuild(
      s, "cls_raw", d, Seq(s"$d/documents.parquet"))(
      classifierRaw(Tables(s, d, "documents")))

  private[graft] def classifierProjection(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    classifierFinal(classifierRaw(docs))

  /** q_c65's integer quality key (0–1000 permille off the classifier's
    * raw signal, empty docs pinned at 500) as a shared frame —
    * (doc_id, n_tokens, qkey) — ONE definition for the curriculum
    * ordering and q_c114's retention-quality audit.
    */
  private[graft] def qualityKeyFrame(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    // `spark.graft.quality.trained` (default off) swaps the FIXED-weight
    // quality key for q_c137's TRAINED margin across every consumer at
    // once (q_c65 curriculum, q_c114 regret, q_c116 retention, q_c119
    // funnel) — the production flip from the bootstrap model to the
    // learned one. Default off keeps the registered oracles exact; both
    // flip sides are pinned by TrainedQualitySpec (the EventDispatchSpec
    // discipline), and the trained side is REGISTERED standalone as
    // q_c140 so the driver checks it without any conf.
    if (s.conf.get("spark.graft.quality.trained", "false").toBoolean)
      QualityClassifierTrainer.trainedQualityKey(s, d)
    else classifierRawShared(s, d)
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") === 0, 500L)
          .otherwise(expr("((wsum + 1024 * n_tokens) * 1000) DIV (2048 * n_tokens)"))
          .as("qkey"))

  /** DuckDB CTE chain (qt, qh, q) ending in `q(doc_id, n_tokens, qkey)`
    * — the oracle twin of [[qualityKeyFrame]], shared by q_c65's and
    * q_c114's oracles (names prefixed q* to compose with the minhash
    * chain, which owns `h`).
    */
  private[graft] lazy val duckQualityKey: String =
    """qt AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |qh AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, w ->
      |      ((list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          [CAST(ascii(x) AS BIGINT) for x in string_split(w, '')]),
      |        (acc, ch) -> (acc * 31 + ch) % 1000000007) % 64)
      |       * 1103515245 + 12345) % 2048 - 1024)),
      |      (a, x) -> a + x) AS wsum
      |  FROM qt),
      |q AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens = 0 THEN 500
      |         ELSE ((wsum + 1024 * n_tokens) * 1000) // (2048 * n_tokens) END AS qkey
      |  FROM qh)""".stripMargin

  /** The score emission over an already-computed raw signal frame. */
  private[graft] def classifierFinal(
      raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    raw
      .select(
        col("doc_id"),
        col("n_tokens"),
        emit(
          when(col("n_tokens") === 0, lit(0).cast(D38))
            .otherwise((dec(col("wsum")) / dec(col("n_tokens") * 1024)).cast(D38)))
          .as("score"),
        when(col("wsum") > 0, lit("keep")).otherwise(lit("drop")).as("cls"))
  }
}
