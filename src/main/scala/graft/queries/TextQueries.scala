package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextExpressions
import graft.operators._

import Fixtures._

/** Text and token analysis, tokenization, language and quality
  * signals, decontamination (`TextAnalysis`, `TextExpressions`, `TokenHealth`, ...). */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(

    // RAKE keyphrases (Rose et al. 2010): stopword-delimited candidate
    // phrases from ONE native RakePhrases eval per row (no token-level
    // shuffle); word degree/freq over the phrase multiset, phrase score
    // = Σ degree/freq of member words — top-20 distinct phrases
    QuerySpec("q_rake", ((s, d) =>
      TextAnalysis.rakeKeyphrases(t(s, d, "documents"), "text",
        TextAnalysis.StopwordProfiles("en"), maxLen = 4, k = 20)), Sql(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(ws) AS word,
        |         unnest(range(len(ws))) AS pos
        |  FROM toks),
        |m AS (
        |  SELECT doc_id, pos, word,
        |    CASE WHEN word IN ('the','and','of','to','in','is','that',
        |                       'it','was','for')
        |         THEN 1 ELSE 0 END AS st
        |  FROM tok),
        |runs AS (
        |  SELECT doc_id, pos, word, st,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS run
        |  FROM m),
        |phr AS (
        |  SELECT doc_id, run,
        |    string_agg(word, ' ' ORDER BY pos) AS phrase,
        |    count(*) AS len
        |  FROM runs WHERE st = 0 GROUP BY doc_id, run),
        |cand AS (SELECT phrase, len FROM phr WHERE len <= 4),
        |wrd AS (SELECT unnest(string_split(phrase, ' ')) AS w, len
        |        FROM cand),
        |wstat AS (SELECT w, count(*) AS freq, sum(len) AS deg
        |          FROM wrd GROUP BY 1),
        |dp AS (SELECT DISTINCT phrase FROM cand),
        |pw AS (SELECT dp.phrase, unnest(string_split(dp.phrase, ' ')) AS w
        |       FROM dp)
        |SELECT pw.phrase,
        |  round(sum(wstat.deg * 1.0 / wstat.freq), 6) AS rake_score,
        |  count(*) AS n_words
        |FROM pw JOIN wstat USING (w)
        |GROUP BY pw.phrase
        |ORDER BY rake_score DESC, phrase
        |LIMIT 20""".stripMargin)),

    // cross-source unigram cross-entropy matrix: the domain-similarity
    // observable mixture design reads (low off-diagonal = redundant
    // sources, high = a domain the mix would starve); add-one smoothing
    // over the shared vocab, everything after tokenization vocab-bounded
    QuerySpec("q_source_xent", ((s, d) =>
      TextAnalysis.crossSourceXent(t(s, d, "documents"), "source", "text")), Sql(
      """WITH tok AS (
        |  SELECT coalesce(source, '<null>') AS g,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS w
        |  FROM documents),
        |c AS (SELECT g, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |t AS (SELECT g, sum(c) AS n FROM c GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS vs FROM c),
        |p AS (
        |  SELECT d.g AS data_source, m.g AS model_source, d.c,
        |         mc.c AS cm, m.n AS nm
        |  FROM c d
        |  CROSS JOIN t m
        |  LEFT JOIN c mc ON mc.g = m.g AND mc.w = d.w)
        |SELECT p.data_source, p.model_source,
        |  round(-sum(p.c * 1.0 * ln((coalesce(p.cm, 0) * 1.0 + 1.0)
        |                            / (p.nm * 1.0 + v.vs))) / dt.n, 6)
        |    AS cross_entropy
        |FROM p, v, t dt
        |WHERE dt.g = p.data_source
        |GROUP BY p.data_source, p.model_source, dt.n, v.vs
        |ORDER BY 1, 2""".stripMargin)),

    // per-source boilerplate prefix: even-numbered sources get a cookie
    // banner prepended to 2/3 of their docs (share ≥ 0.5 → flagged),
    // odd sources keep natural texts (unique prefixes, tie broken
    // lexicographically in both engines) — (source, 32-char prefix)
    // counts combine map-side, full text never shuffles
    QuerySpec("q_prefix_boilerplate", ((s, d) => {
      val docs = t(s, d, "documents").select(col("source"),
        when(expr("try_cast(substr(source, 4) AS INT)") % 2 === 0 &&
            col("doc_id") % 3 =!= 2,
          concat(lit("We use cookies to improve your experience. "),
            col("text"))).otherwise(col("text")).as("text"))
      TextAnalysis.prefixBoilerplate(docs, "source", "text",
        k = 32, minShare = 0.5)
    }), Sql(
      """WITH docs AS (
        |  SELECT source,
        |    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |              AND doc_id % 3 <> 2
        |         THEN 'We use cookies to improve your experience. ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |c AS (
        |  SELECT coalesce(source, '<null>') AS source,
        |         coalesce(substr(text, 1, 32), '<null>') AS prefix,
        |         count(*) AS n_docs
        |  FROM docs GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tt
        |      FROM c GROUP BY 1),
        |r AS (
        |  SELECT source, prefix, n_docs,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_docs DESC, prefix ASC) AS rk
        |  FROM c)
        |SELECT r.source, prefix, n_docs,
        |  round(n_docs::DOUBLE / tt::DOUBLE, 6) AS share,
        |  round(n_docs::DOUBLE / tt::DOUBLE, 6) >= 0.5 AS boilerplate
        |FROM r JOIN t ON r.source = t.source
        |WHERE rk = 1 ORDER BY r.source""".stripMargin)),

    // nucleus (top-p) vocabulary coverage: smallest word count whose
    // mass reaches 50/90/99% of tokens — zipfFit's operational readout
    // (k(0.9) collapsing across snapshots = template spam); cumsum
    // window over the vocab-bounded frequency frame only
    QuerySpec("q_nucleus_vocab", ((s, d) =>
      TextAnalysis.nucleusVocab(t(s, d, "documents"), "text")), Sql(
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |f AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
        |rk AS (
        |  SELECT n,
        |    sum(n) OVER (ORDER BY n DESC, w ROWS UNBOUNDED PRECEDING)
        |      AS cum,
        |    CAST(row_number() OVER (ORDER BY n DESC, w) AS INT) AS k
        |  FROM f),
        |tot AS (SELECT sum(n) AS tot, count(*) AS vocab_size FROM f),
        |ps AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE])
        |         AS p)
        |SELECT ps.p, CAST(min(rk.k) AS INT) AS k_words,
        |       round(min_by(rk.cum, rk.k)::DOUBLE / tot.tot, 6)
        |         AS mass_covered,
        |       tot.vocab_size
        |FROM rk, tot, ps
        |WHERE rk.cum::DOUBLE >= ps.p * tot.tot::DOUBLE
        |GROUP BY ps.p, tot.tot, tot.vocab_size
        |ORDER BY ps.p""".stripMargin)),

    QuerySpec("q_token_counts", ((s, d) => {
      TextExpressions.register(s)
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_words"))
        .orderBy("doc_id")
    }), Sql(
      """SELECT doc_id,
        |       len(list_filter(string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_digit_punct", ((s, d) =>
      orderedOnce(
        t(s, d, "documents").select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
            .as("n_digits"),
          (length(col("text")) - length(regexp_replace(col("text"), "[a-z]", "")))
            .as("n_lower")),
        "doc_id")), Sql(
      """SELECT doc_id, length(text) AS n_chars,
        |       length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
        |       length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_lower
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // TextProfile language argmax replicated exactly: per-language
    // |distinct words ∩ stopword profile| (zh by substring containment),
    // argmax over (score, lang) structs — ties go to the
    // lexicographically greatest language, 'und' when no score > 0
    QuerySpec("q_langid_dist", ((s, d) => {
      // oracle-checked: TextProfile's language argmax is deterministic
      // integer arithmetic, replicated exactly in SQL (stopword-distinct
      // intersection per language, zh by substring containment, ties to
      // the lexicographically greatest language)
      TextExpressions.register(s)
      t(s, d, "documents")
        .select(TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n")).orderBy("lang_pred")
    }), Sql(
      """WITH dw AS (
        |  SELECT DISTINCT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS word
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN word IN ('der','die','und','das','ist','von','den','mit','für','auf') THEN 1 ELSE 0 END) AS s_de,
        |    sum(CASE WHEN word IN ('the','and','of','to','in','is','that','it','was','for') THEN 1 ELSE 0 END) AS s_en,
        |    sum(CASE WHEN word IN ('el','la','de','que','y','en','los','se','del','las') THEN 1 ELSE 0 END) AS s_es,
        |    sum(CASE WHEN word IN ('le','la','les','de','des','et','est','dans','que','une') THEN 1 ELSE 0 END) AS s_fr
        |  FROM dw GROUP BY doc_id),
        |zh AS (
        |  SELECT doc_id,
        |    (CASE WHEN strpos(text,'的')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'了')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'是')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'在')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'我')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'有')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'他')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'这')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'中')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'大')>0 THEN 1 ELSE 0 END)::BIGINT AS s_zh
        |  FROM documents),
        |pick AS (
        |  SELECT d.doc_id,
        |    list_max([
        |      {'s': coalesce(sc.s_de, 0)::BIGINT, 'l': 'de'},
        |      {'s': coalesce(sc.s_en, 0)::BIGINT, 'l': 'en'},
        |      {'s': coalesce(sc.s_es, 0)::BIGINT, 'l': 'es'},
        |      {'s': coalesce(sc.s_fr, 0)::BIGINT, 'l': 'fr'},
        |      {'s': zh.s_zh, 'l': 'zh'}]) AS best
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |  JOIN zh ON d.doc_id = zh.doc_id)
        |SELECT lang_pred, count(*) AS n FROM (
        |  SELECT CASE WHEN best.s > 0 THEN best.l ELSE 'und' END AS lang_pred FROM pick)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TextProfile quality arithmetic replicated exactly: whitespace word
    // split, BPE-ish token count (alnum runs + non-alnum non-ws chars),
    // mean word length / punct / stopword ratios rounded to 4, then the
    // banded composite score (same factor order as qualityScoreFrom)
    QuerySpec("q_quality_scores", ((s, d) =>
      // oracle-checked: word/char-class arithmetic + banded score are
      // SQL-replicable; the hash-based fingerprint lives in its own
      // rows-only query (q_fingerprints)
      orderedOnce(
        TextAnalysis.analyze(t(s, d, "documents"), "doc_id", "text")
          .select("doc_id", "n_words", "n_bpeish_tokens", "quality_score"),
        "doc_id")), Sql(
      """WITH feat AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> ''))
        |      + (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\v\f\r]', '', 'g')))
        |      AS n_bpeish_tokens,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents))
        |SELECT doc_id, n_words, n_bpeish_tokens,
        |  round(
        |    (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1.0
        |          WHEN n_words > 0 THEN least(n_words / 50.0, 1.0) ELSE 0.0 END)
        |    * (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
        |    * (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.5 END)
        |    * (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.7 END), 4) AS quality_score
        |FROM feat ORDER BY doc_id""".stripMargin)),

    // the downstream FILTER stage over the quality signals: Gopher-style
    // per-rule verdicts (word count, mean word length, punct/stopword/
    // digit/upper ratios, repetition) + the keep conjunction, every flag
    // oracle-replicated rule by rule
    // seven Gopher rules + keep, replicated rule by rule on the same
    // 4-dp-rounded (6-dp repetition) feature arithmetic the green
    // q_quality_scores / q_digit_punct / q_repetition oracles pin
    QuerySpec("q_gopher_filter", ((s, d) =>
      orderedOnce(
        TextAnalysis.qualityFilterReport(t(s, d, "documents"), "doc_id",
          "text"),
        "doc_id")), Sql(
      """WITH f AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio,
        |    round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS digit_ratio,
        |    round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS upper_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 6)
        |      ELSE 0.0 END AS rep_ratio
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents))
        |SELECT doc_id,
        |  (n_words >= 50 AND n_words <= 100000)::INT AS r_word_count,
        |  (mwl BETWEEN 3.0 AND 10.0)::INT AS r_mean_word_len,
        |  (punct_ratio <= 0.2)::INT AS r_punct,
        |  (stop_ratio >= 0.05)::INT AS r_stopword,
        |  (digit_ratio <= 0.15)::INT AS r_digit,
        |  (upper_ratio <= 0.3)::INT AS r_upper,
        |  (rep_ratio <= 0.6)::INT AS r_repetition,
        |  (n_words >= 50 AND n_words <= 100000 AND mwl BETWEEN 3.0 AND 10.0
        |   AND punct_ratio <= 0.2 AND stop_ratio >= 0.05 AND digit_ratio <= 0.15
        |   AND upper_ratio <= 0.3 AND rep_ratio <= 0.6)::INT AS keep
        |FROM f ORDER BY doc_id""".stripMargin)),

    // top-3 TF-IDF terms per document — topical keyword extraction for
    // corpus-composition reports; unsmoothed idf = ln(N/df) so the SQL
    // oracle replicates the math exactly (ties break on word asc)
    // TF-IDF replicated exactly: same word split as q_word_jaccard, raw
    // idf = ln(N/df), ties on (score desc, word asc) — identical (tf,
    // df) inputs yield bit-identical doubles in both engines
    QuerySpec("q_tfidf", ((s, d) =>
      TextAnalysis.tfIdfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")), Sql(
      """WITH w AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |dfc AS (SELECT word, count(*) AS dfc FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT doc_id, rank, word, round(score, 6) AS tfidf FROM (
        |  SELECT tf.doc_id, tf.word, tf.tf * ln(n.n / dfc.dfc) AS score,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf * ln(n.n / dfc.dfc) DESC, tf.word)
        |           AS INTEGER) AS rank
        |  FROM tf JOIN dfc USING (word), n)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // curation-funnel observability: per-stage survivor counts + char
    // mass as CollectMetrics of ONE pass (the count() below is the only
    // job; no per-stage rescans) — each gate replicated in SQL
    QuerySpec("q_funnel", ((s, d) => {
      TextExpressions.register(s)
      val f = Funnel(t(s, d, "documents"), massCol = Some("n_chars"))
        .stage("len_gate", _.where(col("n_chars") >= 200))
        .stage("word_gate",
          _.where(TextAnalysis.tokenCount(col("text")) >= 30))
        .stage("source_gate", _.where(!col("source").isin("src3", "src7")))
      f.df.count() // the single pass; metrics accumulate as a side effect
      f.reportDf().orderBy("stage")
    }), Sql(
      """WITH base AS (
        |  SELECT n_chars, source,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x <> '')) AS nw
        |  FROM documents)
        |SELECT 'input' AS stage, count(*) AS n_rows,
        |       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS mass FROM base
        |UNION ALL
        |SELECT 'len_gate', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        |FROM base WHERE n_chars >= 200
        |UNION ALL
        |SELECT 'word_gate', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        |FROM base WHERE n_chars >= 200 AND nw >= 30
        |UNION ALL
        |SELECT 'source_gate', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        |FROM base WHERE n_chars >= 200 AND nw >= 30
        |  AND source NOT IN ('src3', 'src7')
        |ORDER BY stage""".stripMargin)),

    // HTML → text extraction over deterministically synthesized markup
    // (script/style subtrees, attributes, entities, comments) — the
    // identical RE2-compatible regex chain runs in the oracle
    // the same extraction chain, step by step, in DuckDB's RE2 dialect
    // (regexp_replace needs the explicit 'g'/'gs'/'gis' flags that Spark
    // applies implicitly); entity decode order matches (&amp; last)
    QuerySpec("q_html_extract", ((s, d) => {
      val html = concat(
        lit("<html><head><style type=\"text/css\">body{x:1}</style>"),
        lit("<!-- crawler note --></head><body><h1 class=\"t\">"),
        col("source"), lit("</h1><p>"), col("text"),
        lit(" &amp; more&nbsp;&#39;quoted&#39;</p>"),
        lit("<script>var a = 1 < 2;</script></body></html>"))
      orderedOnce(
        t(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.htmlToText(html).as("text_extracted")),
        "doc_id")
    }), Sql(
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style type="text/css">body{x:1}</style>'
        |    || '<!-- crawler note --></head><body><h1 class="t">'
        |    || source || '</h1><p>' || text
        |    || ' &amp; more&nbsp;&#39;quoted&#39;</p>'
        |    || '<script>var a = 1 < 2;</script></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gis'),
        |          '<style[^>]*>.*?</style>', ' ', 'gis'),
        |        '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]+>', ' ', 'g'),
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS text_extracted
        |FROM h ORDER BY doc_id""".stripMargin)),

    // main-content extraction (readability-class block scoring): pages
    // synthesized with planted boilerplate — nav bar, cookie banner,
    // short headline/teaser, link-heavy footer — around the document
    // text as the article paragraph. Length + link-density gates must
    // keep exactly the article (when it is long enough) and drop every
    // planted block; the oracle replays the identical RE2-safe chain
    // the identical block-scoring chain: script/style/comment drop,
    // split on block-level tags, per-block (clean text, anchor-text
    // chars) struct, length >= 80 AND link-density <= 1/3 via integer
    // cross-multiplication, kept blocks joined with one space
    QuerySpec("q_main_content", ((s, d) => {
      val page = concat(
        lit("<html><head><title>Page</title><script>nav.init(1 < 2);" +
          "</script></head><body><nav><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a> " +
          "<a href=\"/faq\">FAQ</a></nav><div class=\"cookie\">We use " +
          "cookies to improve your experience. " +
          "<a href=\"/accept\">Accept</a></div><h1>"),
        col("source"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>Short teaser.</p><footer>" +
          "<a href=\"/tos\">Terms of Service</a> " +
          "<a href=\"/privacy\">Privacy Policy</a> (c) Example Corp" +
          "</footer></body></html>"))
      orderedOnce(
        t(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.mainContent(page).as("main_text")),
        "doc_id")
    }), Sql(
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Page</title><script>nav.init(1 < 2);'
        |    || '</script></head><body><nav><a href="/">Home</a> '
        |    || '<a href="/about">About</a> <a href="/contact">Contact</a> '
        |    || '<a href="/faq">FAQ</a></nav><div class="cookie">We use '
        |    || 'cookies to improve your experience. '
        |    || '<a href="/accept">Accept</a></div><h1>'
        |    || source || '</h1><p>' || text
        |    || '</p><p>Short teaser.</p><footer>'
        |    || '<a href="/tos">Terms of Service</a> '
        |    || '<a href="/privacy">Privacy Policy</a> (c) Example Corp'
        |    || '</footer></body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>', ' ', 'gis'),
        |      '<style[^>]*>.*?</style>', ' ', 'gis'),
        |      '<!--.*?-->', ' ', 'gs') AS cl
        |  FROM h),
        |b AS (
        |  SELECT doc_id, list_transform(
        |    string_split_regex(cl, '(?is)</?(?:html|head|body|div|p|section|article|nav|footer|header|aside|ul|ol|li|h[1-6]|table|tr|td|th|form|main|br|blockquote|pre)\b[^>]*>'),
        |    x -> {'txt': trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |            regexp_replace(x, '<[^>]+>', ' ', 'g'),
        |            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |            '&#39;', ''''), '&amp;', '&'), '\s+', ' ', 'g')),
        |          'll': coalesce(list_sum(list_transform(
        |            regexp_extract_all(x, '(?is)<a\b[^>]*>(.*?)</a>', 1),
        |            a -> length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |              regexp_replace(a, '<[^>]+>', ' ', 'g'),
        |              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |              '&#39;', ''''), '&amp;', '&'), '\s+', ' ', 'g'))))), 0)}) AS blks
        |  FROM c)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_transform(list_filter(blks,
        |    s -> length(s.txt) >= 80 AND s.ll * 3 <= length(s.txt) * 1),
        |    s -> s.txt), ' '), '') AS main_text
        |FROM b ORDER BY doc_id""".stripMargin)),

    // Gopher character-level repetition: most-frequent-2-gram char
    // coverage + duplicated-3-gram char mass, integer-ratio arithmetic
    // from ONE native RepetitionSignals eval — SQL-replicable exactly
    // top-gram mass: among the grams with the max count, the largest
    // count×charlen (whitespace-free char mass / total word-char mass);
    // dup mass: Σ count×charlen over grams occurring ≥ 2
    QuerySpec("q_char_repetition", ((s, d) => {
      TextExpressions.register(s)
      t(s, d, "documents")
        .select(col("doc_id"),
          TextExpressions.repetitionSignals(col("text"), 2, 3).as("__r"))
        .select(col("doc_id"),
          round(col("__r").getField("top_ngram_char_frac"), 6)
            .as("top2_char_frac"),
          round(col("__r").getField("dup_ngram_char_frac"), 6)
            .as("dup3_char_frac"))
        .transform(orderedOnce(_, "doc_id"))
    }), Sql(
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS ws
        |  FROM documents),
        |den AS (
        |  -- from t directly, NOT via unnest: a zero-word document must
        |  -- keep its row (Spark emits (0.0, 0.0) for it)
        |  SELECT doc_id,
        |         coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |           ::DOUBLE AS denom
        |  FROM t),
        |c2 AS (
        |  SELECT doc_id, g, count(*) AS cnt, any_value(cl) AS cl FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g,
        |           len(ws[i]) + len(ws[i+1]) AS cl
        |    FROM t, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |    WHERE len(ws) >= 2)
        |  GROUP BY 1, 2),
        |top2 AS (
        |  SELECT doc_id, max(cnt * cl) AS mass FROM (
        |    SELECT doc_id, cnt, cl,
        |           max(cnt) OVER (PARTITION BY doc_id) AS mc FROM c2)
        |  WHERE cnt = mc GROUP BY doc_id),
        |c3 AS (
        |  SELECT doc_id, g, count(*) AS cnt, any_value(cl) AS cl FROM (
        |    SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g,
        |           len(ws[i]) + len(ws[i+1]) + len(ws[i+2]) AS cl
        |    FROM t, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
        |    WHERE len(ws) >= 3)
        |  GROUP BY 1, 2),
        |dup3 AS (
        |  SELECT doc_id,
        |         coalesce(sum(cnt * cl) FILTER (WHERE cnt >= 2), 0) AS mass
        |  FROM c3 GROUP BY doc_id)
        |SELECT den.doc_id,
        |  round(CASE WHEN den.denom = 0 THEN 0
        |             ELSE coalesce(top2.mass, 0) / den.denom END, 6)
        |    AS top2_char_frac,
        |  round(CASE WHEN den.denom = 0 THEN 0
        |             ELSE coalesce(dup3.mass, 0) / den.denom END, 6)
        |    AS dup3_char_frac
        |FROM den LEFT JOIN top2 USING (doc_id) LEFT JOIN dup3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // BM25 top-20 docs for a fixed term set — the retrieval primitive
    // for mining benchmark near-matches; scores round to 6dp BEFORE
    // ranking so the selected set is bit-stable across engines
    // BM25: per-term tf from the word list, corpus stats in one
    // aggregate, the Lucene ln(1 + (N-df+0.5)/(df+0.5)) idf; constants
    // spelled as the same double arithmetic Spark folds ((1.2+1.0),
    // (1.0-0.75)) so scores are bit-identical before the 6dp round
    QuerySpec("q_bm25", ((s, d) =>
      TextAnalysis.bm25TopK(t(s, d, "documents").select("doc_id", "text"),
        "doc_id", "text", terms = Seq("spark", "window", "merge"), k = 20)), Sql(
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x <> '')) AS dl,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x = 'spark')) AS tf_spark,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x = 'window')) AS tf_window,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x = 'merge')) AS tf_merge
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |    sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window,
        |    sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
        |  FROM base)
        |SELECT doc_id, round(
        |    CAST(tf_spark AS DOUBLE) * (1.2 + 1.0)
        |      / (tf_spark + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |      * ln(1 + (n - df_spark + 0.5) / (df_spark + 0.5))
        |  + CAST(tf_window AS DOUBLE) * (1.2 + 1.0)
        |      / (tf_window + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |      * ln(1 + (n - df_window + 0.5) / (df_window + 0.5))
        |  + CAST(tf_merge AS DOUBLE) * (1.2 + 1.0)
        |      / (tf_merge + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |      * ln(1 + (n - df_merge + 0.5) / (df_merge + 0.5)), 6)
        |  AS bm25
        |FROM base, stats
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // CCNet-style order-1 LM quality proxy: mean ln p(word) under the
    // corpus's own unigram distribution
    // order-1 LM quality proxy: ln p(w) under the corpus unigram
    // distribution; 6dp absorbs distributed-vs-sequential sum order
    QuerySpec("q_unigram_logprob", ((s, d) =>
      TextAnalysis.unigramLogProb(t(s, d, "documents")
          .select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id")), Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(
        |    lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq),
        |sc AS (
        |  SELECT tok.doc_id, count(*) AS n_words,
        |         round(sum(ln(CAST(freq.n AS DOUBLE) / tot.total))
        |           / count(*), 6) AS avg_logprob
        |  FROM tok JOIN freq USING (w), tot
        |  GROUP BY tok.doc_id)
        |SELECT d.doc_id, CAST(coalesce(sc.n_words, 0) AS BIGINT) AS n_words,
        |       sc.avg_logprob
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Zipf fit of the corpus token-frequency curve: OLS slope/R² of
    // ln(freq) on ln(rank) over the vocab-sized frequency frame
    // Zipf fit: OLS of ln(freq) on ln(rank) over the vocab-sized
    // frequency frame (rank deterministic: freq desc, word asc)
    QuerySpec("q_zipf_fit", ((s, d) =>
      TextAnalysis.zipfFit(t(s, d, "documents").select("text"), "text")), Sql(
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(
        |    lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rk
        |      FROM freq)
        |SELECT round(regr_slope(ln(n), ln(rk)), 6) AS zipf_slope,
        |       round(regr_r2(ln(n), ln(rk)), 6) AS zipf_r2,
        |       count(*) AS vocab_size
        |FROM r""".stripMargin)),

    // distributed inverted-index build: df + total tf + capped posting
    // sample (10 smallest doc_ids) per word, via the O(k)-state
    // CollectMinK aggregate — map-side partials ship ≤ k ids per word
    // inverted index: df / total tf / the 10 smallest doc_ids per word
    // (the oracle materializes full posting lists — tiny at sf; the
    // engine's CollectMinK never does)
    QuerySpec("q_postings", ((s, d) =>
      TextAnalysis.invertedIndex(t(s, d, "documents")
          .select("doc_id", "text"), "doc_id", "text", k = 10)
        .orderBy("word")), Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(
        |    lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |tf AS (SELECT w, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
        |SELECT w AS word, count(*) AS df,
        |       CAST(sum(tf) AS BIGINT) AS tf_total,
        |       array_to_string(list_sort(list(doc_id))[1:10], ' ')
        |         AS postings
        |FROM tf GROUP BY w ORDER BY word""".stripMargin)),

    // order-2 LM quality proxy: mean ln p(w|prev) under the corpus's
    // own MLE bigram model — scores word ORDER, one rung above
    // q_unigram_logprob's bag-of-words floor
    // bigram conditional logprob: lead() forms the bigrams, MLE
    // p(next|prev) from the corpus's own counts; 6dp absorbs
    // distributed-vs-sequential sum order (the unigram convention)
    QuerySpec("q_bigram_logprob", ((s, d) =>
      TextAnalysis.bigramLogProb(t(s, d, "documents")
          .select("doc_id", "text"), "doc_id", "text")
        .orderBy("doc_id")), Sql(
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) AS pos,
        |         unnest(ws) AS w
        |  FROM (SELECT doc_id, list_filter(string_split_regex(
        |          lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |bp AS (
        |  SELECT doc_id, w AS p,
        |         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS x
        |  FROM tok QUALIFY x IS NOT NULL),
        |cnt AS (SELECT p, x, count(*) AS n FROM bp GROUP BY 1, 2),
        |ctx AS (SELECT p, CAST(sum(n) AS BIGINT) AS tot FROM cnt
        |        GROUP BY 1),
        |sc AS (
        |  SELECT bp.doc_id, count(*) AS n_bigrams,
        |         round(sum(ln(CAST(cnt.n AS DOUBLE) / ctx.tot))
        |           / count(*), 6) AS avg_logprob
        |  FROM bp JOIN cnt USING (p, x) JOIN ctx USING (p)
        |  GROUP BY bp.doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       sc.avg_logprob
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // top-k word pairs by document-level PMI over the head vocabulary —
    // collocation strength / template-spam tell; every ln input is an
    // exact integer ratio, ranked on the ROUNDED score
    // PMI over the head vocab: same top-30 vocab (count desc, word asc
    // — the q_tokenize spelling), document-level pair counts a < b,
    // ln of the exact integer ratio, ranked on the ROUNDED score
    QuerySpec("q_pmi", ((s, d) =>
      TextAnalysis.pmiPairs(t(s, d, "documents"), "doc_id", "text",
        vocabSize = 30, minPairCount = 2, k = 25)), Sql(
      """WITH wl AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '') AS l FROM documents),
        |allw AS (SELECT doc_id, unnest(l) AS word FROM wl),
        |vocab AS (SELECT word FROM (
        |  SELECT word, count(*) AS n FROM allw GROUP BY 1
        |  ORDER BY n DESC, word LIMIT 30)),
        |tok AS (SELECT DISTINCT doc_id, word FROM allw
        |        WHERE word IN (SELECT word FROM vocab)),
        |cw AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |pr AS (SELECT a.word AS word_a, b.word AS word_b,
        |              count(*) AS pair_n
        |       FROM tok a JOIN tok b
        |         ON a.doc_id = b.doc_id AND a.word < b.word
        |       GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT word_a, word_b, pair_n,
        |       round(ln(pair_n * 1.0 * nn.n / (ca.c * cb.c)), 6) AS pmi
        |FROM pr, nn
        |JOIN cw ca ON pr.word_a = ca.word
        |JOIN cw cb ON pr.word_b = cb.word
        |ORDER BY pmi DESC, word_a, word_b LIMIT 25""".stripMargin)),

    // asymmetric word-set containment: each doc's first-half prefix as
    // the query against (a) its own full text — containment exactly 1 —
    // and (b) its successor doc — the realistic partial-overlap case
    // word-set containment: same first-half prefix construction (floor
    // of the same float division), same NULL-for-empty-query contract
    QuerySpec("q_containment", ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") < 200)
      val ws = TextAnalysis.words(col("text"))
      val qs = docs.select((col("doc_id") + 1000000L).as("q_id"),
        array_join(slice(ws, lit(1),
          floor((size(ws) + 1) / lit(2)).cast("int")), " ").as("q_text"))
      val pairs = docs.select((col("doc_id") + 1000000L).as("q_id"),
          col("doc_id").as("d_id"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("q_id"),
          ((col("doc_id") + 1) % 200).as("d_id")))
      TextAnalysis.wordContainment(qs, "q_id", "q_text",
          docs.select(col("doc_id").as("d_id"), col("text")), "d_id", "text",
          pairs)
        .orderBy("q_id", "d_id")
    }), Sql(
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |wl AS (SELECT doc_id, list_filter(string_split_regex(
        |         lower(trim(text)), '\s+'), x -> x <> '') AS l FROM d),
        |q AS (SELECT doc_id + 1000000 AS q_id,
        |             l[1:CAST(floor((len(l)+1)/2) AS BIGINT)] AS ql FROM wl),
        |qtok AS (SELECT q_id, unnest(list_distinct(ql)) AS w FROM q),
        |dtok AS (SELECT doc_id AS d_id, unnest(list_distinct(l)) AS w FROM wl),
        |pairs AS (SELECT doc_id + 1000000 AS q_id, doc_id AS d_id FROM d
        |          UNION ALL
        |          SELECT doc_id + 1000000, (doc_id + 1) % 200 FROM d),
        |inter AS (SELECT p.q_id, p.d_id, count(*) AS ni
        |          FROM pairs p
        |          JOIN qtok ON p.q_id = qtok.q_id
        |          JOIN dtok ON p.d_id = dtok.d_id AND qtok.w = dtok.w
        |          GROUP BY 1, 2),
        |den AS (SELECT q_id, count(*) AS nd FROM qtok GROUP BY 1)
        |SELECT p.q_id, p.d_id,
        |       CASE WHEN den.nd IS NOT NULL
        |            THEN round(coalesce(inter.ni, 0) * 1.0 / den.nd, 6)
        |       END AS containment
        |FROM pairs p
        |LEFT JOIN inter ON p.q_id = inter.q_id AND p.d_id = inter.d_id
        |LEFT JOIN den ON p.q_id = den.q_id
        |ORDER BY p.q_id, p.d_id""".stripMargin)),

    // language-ID confusion matrix against the table's lang label —
    // the evaluation half of q_langid_dist (same deterministic scoring)
    // confusion matrix: the q_langid_dist scoring CTEs with the lang
    // label joined back for the (label, prediction) rollup
    QuerySpec("q_lang_confusion", ((s, d) => {
      TextExpressions.register(s)
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }), Sql(
      """WITH dw AS (
        |  SELECT DISTINCT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS word
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN word IN ('der','die','und','das','ist','von','den','mit','für','auf') THEN 1 ELSE 0 END) AS s_de,
        |    sum(CASE WHEN word IN ('the','and','of','to','in','is','that','it','was','for') THEN 1 ELSE 0 END) AS s_en,
        |    sum(CASE WHEN word IN ('el','la','de','que','y','en','los','se','del','las') THEN 1 ELSE 0 END) AS s_es,
        |    sum(CASE WHEN word IN ('le','la','les','de','des','et','est','dans','que','une') THEN 1 ELSE 0 END) AS s_fr
        |  FROM dw GROUP BY doc_id),
        |zh AS (
        |  SELECT doc_id,
        |    (CASE WHEN strpos(text,'的')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'了')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'是')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'在')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'我')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'有')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'他')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'这')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'中')>0 THEN 1 ELSE 0 END
        |   + CASE WHEN strpos(text,'大')>0 THEN 1 ELSE 0 END)::BIGINT AS s_zh
        |  FROM documents),
        |pick AS (
        |  SELECT d.doc_id, d.lang,
        |    list_max([
        |      {'s': coalesce(sc.s_de, 0)::BIGINT, 'l': 'de'},
        |      {'s': coalesce(sc.s_en, 0)::BIGINT, 'l': 'en'},
        |      {'s': coalesce(sc.s_es, 0)::BIGINT, 'l': 'es'},
        |      {'s': coalesce(sc.s_fr, 0)::BIGINT, 'l': 'fr'},
        |      {'s': zh.s_zh, 'l': 'zh'}]) AS best
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |  JOIN zh ON d.doc_id = zh.doc_id)
        |SELECT lang, lang_pred, count(*) AS n FROM (
        |  SELECT lang, CASE WHEN best.s > 0 THEN best.l ELSE 'und' END
        |    AS lang_pred FROM pick)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // BPE tokenizer-vocabulary training, first 4 merges: corpus touched
    // once (word-frequency agg); each merge runs on the vocab-bounded
    // frame. The oracle replays all 4 rounds as chained CTEs — both
    // engines' literal replace is leftmost-first non-overlapping,
    // which IS the BPE within-iteration rule
    // BPE: generated chained-CTE oracle (see Fixtures.bpeOracle)
    QuerySpec("q_bpe_merges", ((s, d) =>
      TextAnalysis.bpeTrain(t(s, d, "documents"), "text", nMerges = 4)), Sql(bpeOracle)),

    // BPE APPLY (train → freeze → encode): the 4 trained merges encode
    // every document via the native rank-order merge expression; the
    // oracle re-derives the same merges and replays the stacked-replace
    // chain per word — the two spellings agree on any corpus whose
    // repeat runs stay under 2^BpePasses (differential-pinned)
    // BPE apply: re-derive the merges, replay the stacked-replace chain
    // per document word, count subword tokens (see bpeEncodeOracle)
    QuerySpec("q_bpe_encode", ((s, d) => {
      val merges = TextAnalysis.bpeTrain(t(s, d, "documents"), "text",
          nMerges = 4)
        .orderBy("merge_idx").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // NOT orderedOnce: bpeTokenCounts ends in a per-doc aggregate, so
      // the sort's child already sits on an exchange — the sampler
      // re-reads those shuffle files, and an extra repartition only
      // adds a third exchange (measured 1.16 → 1.24 s warm, reverted)
      TextAnalysis.bpeTokenCounts(t(s, d, "documents"), "doc_id", "text",
          merges)
        .orderBy("doc_id")
    }), Sql(bpeEncodeOracle)),

    // tokenizer fertility per source (subword tokens per word under the
    // same 4 trained merges) — the number multilingual vocab decisions
    // are made on; text never enters an exchange (one (source, word)
    // explode, sizes aggregate map-side)
    // fertility: same derivation grouped by source (see bpeFertilityOracle)
    QuerySpec("q_bpe_fertility", ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", nMerges = 4)
        .orderBy("merge_idx").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeFertility(docs, "text", "source", merges)
        .orderBy("source")
    }), Sql(bpeFertilityOracle)),

    // OOV coverage vs a frozen top-100 corpus vocabulary: the
    // tokenizer-health metric per doc — vocab is a plan literal through
    // the native WordIds expression, scoring is a pure projection
    // OOV vs the top-100 (count desc, word asc) corpus vocabulary;
    // zero-word docs keep a row with NULL rate via the LEFT JOIN
    QuerySpec("q_oov_rate", ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = TextAnalysis.buildVocab(docs, "text", 100)
      orderedOnce(TextAnalysis.oovStats(docs, "doc_id", "text", vocab),
        "doc_id")
    }), Sql(
      """WITH ws AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(
        |    lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w FROM ws GROUP BY w ORDER BY count(*) DESC, w LIMIT 100),
        |per AS (
        |  SELECT d.doc_id,
        |         CAST(count(ws.w) AS BIGINT) AS n_words,
        |         CAST(coalesce(sum(CASE WHEN ws.w IS NOT NULL
        |           AND v.w IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        |           AS n_oov
        |  FROM documents d
        |  LEFT JOIN ws ON ws.doc_id = d.doc_id
        |  LEFT JOIN vocab v ON ws.w = v.w
        |  GROUP BY 1)
        |SELECT doc_id, n_words, n_oov,
        |       CASE WHEN n_words > 0
        |            THEN round(n_oov * 1.0 / n_words, 6) END AS oov_rate
        |FROM per ORDER BY doc_id""".stripMargin)),

    // rank-ensemble quality: mean within-source percent_rank of two
    // scale-incomparable signals (chars, words) — nulls rank worst;
    // one group-keyed exchange shared by both signal windows
    // rank ensemble: ties share percent_rank, NULL signals rank first
    // (worst) — deterministic without an id tie-break
    QuerySpec("q_rank_ensemble", ((s, d) => {
      val docs = t(s, d, "documents")
      val sig = docs.select(col("doc_id"), col("source"), col("n_chars"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_words"))
      Mixing.rankEnsemble(sig, "source", Seq("n_chars", "n_words"))
        .select(col("doc_id"), col("source"), col("ensemble_score"))
        .orderBy("doc_id")
    }), Sql(
      """WITH s AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(len(list_filter(string_split_regex(
        |           lower(trim(text)), '\s+'), x -> x <> '')) AS BIGINT)
        |           AS n_words
        |  FROM documents)
        |SELECT doc_id, source,
        |  round((percent_rank() OVER (PARTITION BY source
        |           ORDER BY n_chars ASC NULLS FIRST)
        |       + percent_rank() OVER (PARTITION BY source
        |           ORDER BY n_words ASC NULLS FIRST)) / 2, 6)
        |    AS ensemble_score
        |FROM s ORDER BY doc_id""".stripMargin)),

    // --- token-structure health tier (round-5 continuation 5) -------
    // BOS/EOS framing validation per source: sequences framed as
    // [BOS] body [EOS] with planted defects (id%23==5 missing BOS,
    // ==7 missing EOS, ==11 an interior EOS — the packed-corpus
    // cross-document bleed signal); one flags projection + one
    // map-side-combined aggregate, token arrays never shuffle
    // --- token-structure health tier ---------------------------------
    // BOS/EOS framing: rebuild the framed sequences (same planted
    // defects), then the three flag predicates verbatim — DuckDB
    // list_position returns NULL when absent (Spark array_position
    // returns 0), both coalesced to false
    QuerySpec("q_token_boundaries", ((s, d) => {
      val bos = 50001; val eos = 50002
      val idNum = substring(col("doc_id"), 5, 12).cast("long")
      val framed = decontamCorpus(s, d)
        .withColumn("__id", idNum)
        .withColumn("framed",
          when(col("__id") % 23 === 5,
            concat(col("tokens"), array(lit(eos))))
          .when(col("__id") % 23 === 7,
            concat(array(lit(bos)), col("tokens")))
          .when(col("__id") % 23 === 11,
            concat(array(lit(bos)), slice(col("tokens"), 1, 2),
              array(lit(eos)), slice(col("tokens"), 3, 1000000),
              array(lit(eos))))
          .otherwise(concat(array(lit(bos)), col("tokens"),
            array(lit(eos)))))
      TokenHealth.framingSummary(framed, "framed", "source", bos, eos)
        .orderBy("source")
    }), Sql(
      s"""WITH $SeqTableCte,
        |sq AS (SELECT toks, source, CAST(substr(did, 5) AS BIGINT) AS id
        |       FROM s2 WHERE starts_with(did, 'doc_')),
        |fr AS (
        |  SELECT source,
        |    CASE WHEN id % 23 = 5 THEN list_concat(toks, [50002])
        |         WHEN id % 23 = 7 THEN list_concat([50001], toks)
        |         WHEN id % 23 = 11 THEN
        |           list_concat(list_concat(list_concat([50001],
        |             list_slice(toks, 1, 2)), [50002]),
        |             list_concat(list_slice(toks, 3, len(toks)), [50002]))
        |         ELSE list_concat(list_concat([50001], toks), [50002])
        |    END AS f
        |  FROM sq)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(sum(CASE WHEN len(f) = 0 OR f[1] <> 50001
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_miss_bos,
        |  CAST(sum(CASE WHEN len(f) = 0 OR f[-1] <> 50002
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_miss_eos,
        |  CAST(sum(CASE WHEN coalesce(list_position(
        |             list_slice(f, 2, len(f) - 1), 50002), 0) > 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_interior_eos
        |FROM fr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-position token-ID distribution over the first 4 positions:
    // exact distinct counts plus bucketed entropy / top-share — the
    // packing-corruption detector (a position whose entropy collapses
    // is receiving a constant token)
    // positional stats: (pos, token) counts for the first 4 positions,
    // entropy/top-share over 64 ID buckets — all ratios of exact
    // integer counts, entropy 6dp-rounded
    QuerySpec("q_position_entropy", ((s, d) =>
      TokenHealth.positionStats(seqFromDocs(s, d), "tokens",
          k = 4, nBuckets = 64)
        .select(col("pos"), col("n_seqs"), col("n_distinct_tokens"),
          col("bucket_entropy"), col("top_bucket_share"))), Sql(
      s"""WITH $SeqTableCte,
        |pt AS (
        |  SELECT CAST(i - 1 AS INT) AS pos, toks[i] AS t,
        |         count(*) AS n
        |  FROM (SELECT toks,
        |          unnest(range(1, least(len(toks), 4) + 1)) AS i
        |        FROM s2)
        |  GROUP BY 1, 2),
        |pp AS (SELECT pos, CAST(sum(n) AS BIGINT) AS n_seqs,
        |              CAST(count(*) AS BIGINT) AS n_distinct_tokens
        |       FROM pt GROUP BY 1),
        |pb AS (SELECT pos, t % 64 AS b, CAST(sum(n) AS BIGINT) AS nb
        |       FROM pt GROUP BY 1, 2),
        |pe AS (SELECT pos,
        |         round(ln(CAST(sum(nb) AS DOUBLE))
        |               - sum(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)))
        |                 / CAST(sum(nb) AS DOUBLE), 6) AS bucket_entropy,
        |         round(CAST(max(nb) AS DOUBLE) / CAST(sum(nb) AS DOUBLE), 6)
        |           AS top_bucket_share
        |       FROM pb GROUP BY 1)
        |SELECT pp.pos, n_seqs, n_distinct_tokens, bucket_entropy,
        |       top_bucket_share
        |FROM pp JOIN pe ON pp.pos = pe.pos ORDER BY 1""".stripMargin)),

    // vocabulary coverage per source: distinct token IDs vs the 50k
    // vocab plus the type/token ratio — the tokenizer-audit number
    // (two-level aggregate, exchange ≤ sources × vocab int pairs)
    // vocab coverage: exact distinct IDs and integer-ratio outputs per
    // source over the (source, token) pair counts
    QuerySpec("q_vocab_coverage", ((s, d) =>
      TokenHealth.vocabCoverage(seqFromDocs(s, d), "tokens", "source",
          vocabSize = 50000)
        .orderBy("source")), Sql(
      s"""WITH $SeqTableCte,
        |pt AS (SELECT source, t, count(*) AS n
        |       FROM (SELECT source, unnest(toks) AS t FROM s2)
        |       GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       round(CAST(count(*) AS DOUBLE) / 50000.0, 6)
        |         AS vocab_coverage,
        |       round(CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
        |         AS type_token_ratio
        |FROM pt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // duplicated token-3-gram mass: the token-space dedup-regression
    // number (fraction of gram occurrences whose gram repeats)
    // duplicated 3-gram mass: every gram start replayed via
    // generate-series, ratios of exact integer sums
    QuerySpec("q_token_dup_mass", ((s, d) =>
      TokenHealth.dupGramMass(seqFromDocs(s, d), "tokens", n = 3)), Sql(
      s"""WITH $SeqTableCte,
        |g AS (
        |  SELECT toks[i] AS g0, toks[i + 1] AS g1, toks[i + 2] AS g2
        |  FROM (SELECT toks,
        |          unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
        |        FROM s2)),
        |c AS (SELECT g0, g1, g2, count(*) AS n FROM g GROUP BY 1, 2, 3)
        |SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_grams,
        |       CAST(count(*) AS BIGINT) AS n_distinct_grams,
        |       CAST(coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)
        |            AS BIGINT) AS n_dup_occurrences,
        |       round(CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(n) AS DOUBLE), 6) AS dup_mass
        |FROM c""".stripMargin)),

    // token-ID histogram drift between snapshots: even-id docs are the
    // baseline, odd-id docs get a planted tokenizer swap (IDs halved →
    // mass compressed into the low vocab) — KS over 64-bin sketches,
    // exactly the stored-baseline drift path of the north star
    // token-ID KS drift: both snapshots bucketed with the HistogramAgg
    // binning (underflow 0 / 1+min(63, floor(x/50000*64)) / overflow
    // 65), ecdf over the filled 66-bin frame, asymptotic critical value
    // at alpha 0.01 — the q_seq_drift spelling over unnested tokens
    QuerySpec("q_token_drift", ((s, d) => {
      val seqs = decontamCorpus(s, d)
        .withColumn("__id", substring(col("doc_id"), 5, 12).cast("long"))
      val base = seqs.where(col("__id") % 2 === 0).select(col("tokens"))
      val cur = seqs.where(col("__id") % 2 === 1)
        .select(transform(col("tokens"),
          t => floor(t / 2.0).cast("int")).as("tokens"))
      TokenHealth.tokenIdDrift(base, cur, "tokens",
        lo = 0.0, hi = 50000.0, nBins = 64)
    }), Sql(
      s"""WITH $SeqTableCte,
        |sq AS (SELECT toks, CAST(substr(did, 5) AS BIGINT) AS id
        |       FROM s2 WHERE starts_with(did, 'doc_')),
        |bt AS (SELECT unnest(toks) AS t FROM sq WHERE id % 2 = 0),
        |ct AS (SELECT CAST(floor(t / 2.0) AS BIGINT) AS t
        |       FROM (SELECT unnest(toks) AS t FROM sq WHERE id % 2 = 1)),
        |bb AS (SELECT CASE WHEN t < 0 THEN 0 WHEN t >= 50000 THEN 65
        |         ELSE 1 + least(63, CAST(floor((t / 50000.0) * 64) AS INT))
        |       END AS b FROM bt),
        |cb AS (SELECT CASE WHEN t < 0 THEN 0 WHEN t >= 50000 THEN 65
        |         ELSE 1 + least(63, CAST(floor((t / 50000.0) * 64) AS INT))
        |       END AS b FROM ct),
        |bins AS (SELECT unnest(range(0, 66)) AS b),
        |filled AS (
        |  SELECT bins.b AS b,
        |    coalesce(nb.n, 0) AS nb, coalesce(nc.n, 0) AS nc
        |  FROM bins
        |  LEFT JOIN (SELECT b, count(*) AS n FROM bb GROUP BY 1) nb
        |    ON bins.b = nb.b
        |  LEFT JOIN (SELECT b, count(*) AS n FROM cb GROUP BY 1) nc
        |    ON bins.b = nc.b),
        |ec AS (
        |  SELECT b,
        |    sum(nb) OVER (ORDER BY b)
        |      / (SELECT CAST(sum(nb) AS DOUBLE) FROM filled) AS fb,
        |    sum(nc) OVER (ORDER BY b)
        |      / (SELECT CAST(sum(nc) AS DOUBLE) FROM filled) AS fc
        |  FROM filled),
        |ks AS (SELECT max(abs(fc - fb)) AS stat FROM ec),
        |nn AS (SELECT CAST((SELECT sum(nb) FROM filled) AS DOUBLE) AS n1,
        |              CAST((SELECT sum(nc) FROM filled) AS DOUBLE) AS n2),
        |crit AS (SELECT sqrt(-0.5 * ln(0.005))
        |                * sqrt((n2 + n1) / (n2 * n1)) AS v FROM nn)
        |SELECT CAST((SELECT sum(nb) FROM filled) AS BIGINT) AS n_base,
        |       CAST((SELECT sum(nc) FROM filled) AS BIGINT) AS n_cur,
        |       round((SELECT stat FROM ks), 6) AS ks_stat,
        |       round((SELECT v FROM crit), 6) AS ks_critical,
        |       (SELECT stat FROM ks) > (SELECT v FROM crit) AS ks_drifted""".stripMargin)),

    // signal-redundancy audit: per-source Pearson r between n_chars and
    // the canonical word count, from exact decimal sufficient stats
    // (deterministic across engines, unlike streaming corr)
    // signal correlation: HUGEINT sufficient stats (exactly Spark's
    // decimal(38,0) path), identical double conversion and r formula
    QuerySpec("q_signal_corr", ((s, d) => {
      val docs = t(s, d, "documents")
      val sig = docs.select(col("source"), col("n_chars"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_words"))
      Profile.correlationByGroup(sig, "source", "n_chars", "n_words")
        .orderBy("source")
    }), Sql(
      """WITH s AS (
        |  SELECT source, n_chars,
        |    CAST(len(list_filter(string_split_regex(
        |      lower(trim(text)), '\s+'), x -> x <> '')) AS BIGINT) AS n_words
        |  FROM documents),
        |a AS (
        |  SELECT source, count(*) AS n, sum(n_chars) AS sx,
        |         sum(n_words) AS sy, sum(n_chars * n_words) AS sxy,
        |         sum(n_chars * n_chars) AS sxx,
        |         sum(n_words * n_words) AS syy
        |  FROM s WHERE n_chars IS NOT NULL AND n_words IS NOT NULL
        |  GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |        AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
        |    round(CAST(n * sxy - sx * sy AS DOUBLE)
        |          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |  END AS pearson_r
        |FROM a ORDER BY source""".stripMargin)),

    // classifier calibration: sigmoid of the ROUNDED log-odds (the
    // q_logistic_quality anchor) binned against a deterministic
    // integer label (n_chars >= 500) — reliability diagram + gap per
    // bin; ECE is the n-weighted gap sum over these rows
    // calibration: the q_logistic_quality feature CTE, sigmoid of the
    // 6dp-rounded log-odds, floor bins, integer label n_chars >= 500
    QuerySpec("q_calibration", ((s, d) => {
      TextExpressions.register(s)
      val w = Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
        "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0)
      val scored = t(s, d, "documents")
        .select(col("n_chars"),
          TextAnalysis.textProfile(col("text")).as("__tp"))
        .select(col("n_chars"),
          round(TextAnalysis.logOddsFrom(col("__tp"), bias = -2.0, w), 6)
            .as("__lo"))
        .select(
          (lit(1.0) / (lit(1.0) + exp(-col("__lo")))).as("score"),
          when(coalesce(col("n_chars"), lit(0L)) >= 500, 1L).otherwise(0L)
            .as("label"))
      Profile.calibrationBins(scored, "score", "label", nBins = 10)
    }), Sql(
      """WITH feat AS (
        |  SELECT doc_id, n_chars,
        |    len(ws) AS n_words,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio
        |  FROM (SELECT doc_id, n_chars, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |sc AS (
        |  SELECT 1.0 / (1.0 + exp(-round(mwl * 0.5 + n_words * 0.02
        |           + punct_ratio * -8.0 + stop_ratio * 4.0 + -2.0, 6))) AS score,
        |         CASE WHEN coalesce(n_chars, 0) >= 500 THEN 1 ELSE 0 END AS y
        |  FROM feat
        |  WHERE round(mwl * 0.5 + n_words * 0.02 + punct_ratio * -8.0
        |              + stop_ratio * 4.0 + -2.0, 6) IS NOT NULL)
        |SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(y) AS BIGINT) AS n_pos,
        |       round(avg(score), 6) AS mean_score,
        |       round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |         AS pos_rate,
        |       round(abs(avg(score) - CAST(sum(y) AS DOUBLE)
        |                               / CAST(count(*) AS DOUBLE)), 6) AS gap
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // content-defined chunking (md5 oracle mode, window 8, hex-'0'
    // boundary ≈ 16-char chunks): per-doc chunk counts — CDC boundaries
    // are local functions of content, so chunk hashes survive prefix
    // insertions (the shift q_cdc_shift_recall plants)
    // CDC md5 mode replayed exactly: boundary at i ⇔ md5 of the 8-char
    // window ending at i starts with hex '0'; cuts = 0 ++ boundaries<len
    // ++ len (the array_distinct spelling: only len can repeat)
    QuerySpec("q_cdc_chunks", ((s, d) =>
      CdcChunking.chunks(t(s, d, "documents"), "doc_id", "text",
          window = 8, maskBits = 0)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
          max(col("chunk_len")).cast("long").as("max_chunk_len"))
        .orderBy("doc_id")), Sql(
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0),
         |b AS (
         |  SELECT doc_id, text,
         |    [0] || list_filter(list_filter(
         |        generate_series(8, length(text)),
         |        i -> substr(md5(substr(text, i - 7, 8)), 1, 1) = '0'),
         |      i -> i < length(text))
         |      || [length(text)] AS cuts
         |  FROM d),
         |e AS (
         |  SELECT doc_id, text, cuts,
         |         unnest(generate_series(1, len(cuts) - 1)) AS j
         |  FROM b),
         |c AS (
         |  SELECT doc_id,
         |         md5(substr(text, cuts[j] + 1, cuts[j + 1] - cuts[j]))
         |           AS h,
         |         cuts[j + 1] - cuts[j] AS l
         |  FROM e)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
         |       CAST(max(l) AS BIGINT) AS max_chunk_len
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // CDC shift-robustness, FULLY oracled (md5 boundaries are
    // deterministic — unlike the seed-dependent MinHash/SimHash planted
    // rows, DuckDB replays chunking + capped overlap pairs exactly):
    // plant prefix-shifted copies, count recovered (id, id+1e6) pairs
    // at overlap ≥ 0.5
    // CDC shift recall, FULLY oracled (md5 boundaries are seed-free):
    // same chunking over base+planted, pair discovery restricted to
    // hashes shared by 2..200 docs (the maxBucket cap), overlap vs the
    // smaller doc, recovered = planted (id, id+1e6) pairs at >= 0.5
    QuerySpec("q_cdc_shift_recall", ((s, d) => {
      val base = t(s, d, "documents")
        .where(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      val planted = base
        .where(col("doc_id") % 29 === 0 && length(col("text")) >= 64)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("BOILERPLATE HEADER INSERTED. "), col("text"))
            .as("text"))
      val corpus = base.unionByName(planted)
      val chunked = CdcChunking.chunks(corpus, "doc_id", "text",
        window = 8, maskBits = 0)
      val pairs = CdcChunking.overlapPairs(chunked, "doc_id",
        minOverlap = 0.5, maxBucket = 200)
      val nPlanted = planted.count()
      pairs.where(col("id_b") === col("id_a") + 1000000L)
        .agg(lit(nPlanted).as("n_planted"),
          count(lit(1)).as("n_recovered"))
    }), Sql(
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0),
         |planted AS (
         |  SELECT doc_id + 1000000 AS doc_id,
         |         'BOILERPLATE HEADER INSERTED. ' || text AS text
         |  FROM base WHERE doc_id % 29 = 0 AND length(text) >= 64),
         |corpus AS (
         |  SELECT * FROM base UNION ALL SELECT * FROM planted),
         |b AS (
         |  SELECT doc_id, text,
         |    [0] || list_filter(list_filter(
         |        generate_series(8, length(text)),
         |        i -> substr(md5(substr(text, i - 7, 8)), 1, 1) = '0'),
         |      i -> i < length(text))
         |      || [length(text)] AS cuts
         |  FROM corpus),
         |e AS (
         |  SELECT doc_id, text, cuts,
         |         unnest(generate_series(1, len(cuts) - 1)) AS j
         |  FROM b),
         |pd AS (
         |  SELECT DISTINCT doc_id,
         |    md5(substr(text, cuts[j] + 1, cuts[j + 1] - cuts[j])) AS h
         |  FROM e),
         |sz AS (SELECT doc_id, count(*) AS n FROM pd GROUP BY 1),
         |hh AS (SELECT h FROM pd GROUP BY h
         |       HAVING count(*) > 1 AND count(*) <= 200),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         |         count(*) AS n_shared
         |  FROM pd a JOIN hh USING (h) JOIN pd b2 USING (h)
         |  WHERE a.doc_id < b2.doc_id GROUP BY 1, 2),
         |ov AS (
         |  SELECT id_a, id_b,
         |         round(n_shared * 1.0 / least(sa.n, sb.n), 6) AS overlap
         |  FROM pr
         |  JOIN sz sa ON sa.doc_id = pr.id_a
         |  JOIN sz sb ON sb.doc_id = pr.id_b)
         |SELECT CAST((SELECT count(*) FROM planted) AS BIGINT)
         |         AS n_planted,
         |       CAST(count(*) AS BIGINT) AS n_recovered
         |FROM ov
         |WHERE overlap >= 0.5 AND id_b = id_a + 1000000""".stripMargin)),

    // encoding/mojibake QC on planted defects: U+FFFD keyed doc_id%11,
    // a BEL control char keyed %13, an accented char keyed %17 — counts
    // and printable ratio must match the oracle exactly
    // encoding QC on the same planted defects (chr spellings); length()
    // is character length in both engines, patterns RE2-safe
    QuerySpec("q_encoding_qc", ((s, d) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 11 === 0, lit("\uFFFD")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit("\u0007")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit("é")).otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.encodingQc(planted).as("qc"))
        .select(col("doc_id"), col("qc.n_replacement"), col("qc.n_control"),
          col("qc.n_non_ascii"), col("qc.printable_ratio"))
        .transform(orderedOnce(_, "doc_id"))
    }), Sql(
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 11 = 0 THEN chr(65533) ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0 THEN chr(233) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(t) - length(regexp_replace(t, chr(65533), '', 'g'))
        |    AS BIGINT) AS n_replacement,
        |  CAST(length(t) - length(regexp_replace(t,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT)
        |    AS n_control,
        |  CAST(length(t) - length(regexp_replace(t, '[^\x00-\x7F]', '',
        |    'g')) AS BIGINT) AS n_non_ascii,
        |  round(CAST(length(regexp_replace(t, '[^\x20-\x7E\t\n\r]', '',
        |    'g')) AS DOUBLE) / greatest(length(t), 1), 6)
        |    AS printable_ratio
        |FROM p ORDER BY doc_id""".stripMargin)),

    // text → token ids with a corpus-learned vocabulary (top-20 words,
    // rank = id, deterministic tie order) — the step that PRODUCES the
    // engine's north-star input shape (doc_id, tokens); the oracle
    // learns the same vocab and tokenizes with a word join
    QuerySpec("q_tokenize", ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = TextAnalysis.buildVocab(docs, "text", size = 20)
      // NOT orderedOnce: every boundary placement was measured slower —
      // post-explode repartition ships ~500k exploded rows (0.59 →
      // 0.72 s warm) and a pre-explode array exchange ships text-sized
      // token arrays (0.85 s); the double tokenize eval under the
      // sort's sampler is the cheapest of the three
      docs.select(col("doc_id"),
          posexplode(TextAnalysis.tokenize(col("text"), vocab, unkId = -1)))
        .withColumnRenamed("col", "token_id")
        .orderBy("doc_id", "pos")
    }), Sql(
      """WITH wl AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(l) AS word,
        |         CAST(unnest(range(0, len(l))) AS INTEGER) AS pos
        |  FROM wl),
        |vocab AS (
        |  SELECT word,
        |         CAST(row_number() OVER (ORDER BY n DESC, word) - 1
        |              AS INTEGER) AS id
        |  FROM (SELECT word, count(*) AS n FROM words
        |        GROUP BY 1 ORDER BY n DESC, word LIMIT 20))
        |SELECT w.doc_id, w.pos, coalesce(v.id, -1) AS token_id
        |FROM words w LEFT JOIN vocab v USING (word)
        |ORDER BY doc_id, pos""".stripMargin)),

    QuerySpec("q_unicode_nfc", ((s, d) => {
      // Unicode NFC normalization (native expression) cross-validated
      // against DuckDB's nfc_normalize on synthesized composed/decomposed
      // suffixes — visually identical strings must hash identically
      // downstream, so normalization precedes dedup/fingerprinting
      TextExpressions.register(s)
      t(s, d, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" cafe" + "\u0301")))
            .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" caf" + "\u00e9")))
            .otherwise(col("text")).as("dirty"))
        .select(col("doc_id"),
          TextExpressions.normalizeText(col("dirty"), "NFC").as("norm"))
        .select(col("doc_id"), col("norm"), length(col("norm")).as("n_chars"))
        .orderBy("doc_id")
    }), Sql(
      """WITH d AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
        |    WHEN doc_id % 3 = 1 THEN text || ' caf' || chr(233)
        |    ELSE text END AS dirty
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(dirty) AS norm,
        |       length(nfc_normalize(dirty)) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin)),

    // rows-only: deflate byte counts aren't SQL-expressible; the
    // SQL-expressible halves are oracled by q_compression_meta below
    QuerySpec("q_compression_ratio", ((s, d) => {
      TextExpressions.register(s)
      orderedOnce(
        t(s, d, "documents")
          .select(col("doc_id"),
            round(TextExpressions.compressionRatio(col("text")), 4)
              .as("deflate_ratio")),
        "doc_id")
    }), RowsOnly("deflate byte counts aren't SQL-expressible")),

    // the oracle companion for q_compression_ratio (the
    // q_multimodal_meta pattern): everything ABOUT the deflate signal
    // that SQL can state — per-doc determinism across a repartition
    // (every row must reproduce its ratio bit-for-bit on a reshuffled
    // copy) and the input byte mass the ratio denominates over — leaving
    // only the compressed byte count itself rows-only
    // deflate determinism: every doc must reproduce its ratio on the
    // reshuffled copy, and the input byte mass is plain SQL
    QuerySpec("q_compression_meta", ((s, d) => {
      TextExpressions.register(s)
      val docs = t(s, d, "documents")
      val a = docs.select(col("doc_id"),
        round(TextExpressions.compressionRatio(col("text")), 4).as("r1"),
        octet_length(col("text")).as("__nb"))
      val b = docs.repartition(7, col("doc_id")).select(col("doc_id"),
        round(TextExpressions.compressionRatio(col("text")), 4).as("r2"))
      a.join(b, Seq("doc_id")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("r1") === col("r2"), 1L).otherwise(0L))
          .as("n_deterministic"),
        sum(col("__nb").cast("long")).as("total_text_bytes"))
    }), Sql(
      """SELECT count(*) AS n_docs, count(*) AS n_deterministic,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_text_bytes
        |FROM documents""".stripMargin)),

    QuerySpec("q_repetition", ((s, d) => {
      // word-repetition filter signal (1 − distinct/total words), from
      // the same one-pass TextProfile — SQL-replicable exactly. The
      // profile is projected ONCE then read field-wise (the one-arg
      // repetitionRatio(text) convenience would instantiate the
      // non-codegen profile expression per field reference)
      TextExpressions.register(s)
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.textProfile(col("text")).as("__tp"))
        .select(col("doc_id"),
          TextAnalysis.repetitionRatioFrom(col("__tp")).as("rep_ratio"))
        .orderBy("doc_id")
    }), Sql(
      """SELECT doc_id, CASE WHEN len(ws) > 0
        |  THEN round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 6)
        |  ELSE 0.0 END AS rep_ratio
        |FROM (SELECT doc_id,
        |        list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                    x -> x <> '') AS ws
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_pii", ((s, d) => {
      // PII detect + redact over a synthesized dirty column (the clean
      // corpus has no PII): counts and the redacted length, per doc —
      // regexes are RE2-compatible so DuckDB replicates them literally
      val docs = t(s, d, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com")))
          .when(col("doc_id") % 10 === 1,
            concat(col("text"), lit(" call 555-123-4567 or 555 987 6543")))
          .when(col("doc_id") % 10 === 2,
            concat(col("text"), lit(" from 192.168.1.99")))
          .otherwise(col("text")).as("dirty"))
      docs.select(col("doc_id"),
          TextAnalysis.piiCounts(col("dirty")).as("__p"),
          length(TextAnalysis.redactPii(col("dirty"))).as("redacted_len"))
        .select(col("doc_id"), col("__p.n_emails").as("n_emails"),
          col("__p.n_phones").as("n_phones"), col("__p.n_ips").as("n_ips"),
          col("redacted_len"))
        .transform(orderedOnce(_, "doc_id"))
    }), Sql(
      """WITH d AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 10 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |    WHEN doc_id % 10 = 1 THEN text || ' call 555-123-4567 or 555 987 6543'
        |    WHEN doc_id % 10 = 2 THEN text || ' from 192.168.1.99'
        |    ELSE text END AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(dirty, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS n_phones,
        |  len(regexp_extract_all(dirty, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
        |  length(regexp_replace(regexp_replace(regexp_replace(dirty,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '[PHONE]', 'g'),
        |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g')) AS redacted_len
        |FROM d ORDER BY doc_id""".stripMargin)),

    // classifier application: same feature CTE as q_quality_scores, the
    // linear score in the exact sorted-name term order the Spark plan uses
    QuerySpec("q_logistic_quality", ((s, d) => {
      // classifier application at scale: linear log-odds over the
      // rounded TextProfile features (sorted-name term order), exactly
      // SQL-replicable; the sigmoid is monotone so threshold-filtering
      // on log-odds ≡ filtering on the calibrated score
      TextExpressions.register(s)
      val w = Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
        "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0)
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.textProfile(col("text")).as("__tp"))
        .select(col("doc_id"),
          round(TextAnalysis.logOddsFrom(col("__tp"), bias = -2.0, w), 6)
            .as("log_odds"))
        .transform(orderedOnce(_, "doc_id"))
    }), Sql(
      """WITH feat AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents))
        |SELECT doc_id,
        |  round(mwl * 0.5 + n_words * 0.02 + punct_ratio * -8.0
        |        + stop_ratio * 4.0 + -2.0, 6) AS log_odds
        |FROM feat ORDER BY doc_id""".stripMargin)),

    // token-window chunking with overlap (maxLen=4, stride=3) over the
    // oracle-visible derived sequence table; scalar projections of each
    // chunk so the oracle compares values, not array encodings
    QuerySpec("q_chunk_tokens", ((s, d) => {
      val ch = Chunking.chunkTokens(seqFromDocs(s, d), "doc_id", "tokens",
        maxLen = 4, overlap = 1)
      ch.select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          col("n_chunk_tok"),
          element_at(col("chunk_tokens"), 1).cast("long").as("first_tok"),
          element_at(col("chunk_tokens"), col("n_chunk_tok")).cast("long")
            .as("last_tok"),
          aggregate(col("chunk_tokens"), lit(0L), (a, x) => a + x).as("tok_sum"))
        .orderBy("doc_id", "chunk_id", "chunk_start", "n_chunk_tok",
          "first_tok", "last_tok", "tok_sum")
    }), Sql(
      s"""WITH $SeqTableCte,
        |ch AS (
        |  SELECT toks, len(toks) AS n,
        |    unnest(range(0, CASE WHEN len(toks) <= 4 THEN 1
        |      ELSE CAST(ceil((len(toks) - 4) / 3.0) AS INT) + 1 END)) AS cid,
        |    did
        |  FROM s2 WHERE len(toks) > 0)
        |SELECT did AS doc_id, CAST(cid AS INTEGER) AS chunk_id,
        |  CAST(cid * 3 AS INTEGER) AS chunk_start,
        |  CAST(least(4, n - cid * 3) AS INTEGER) AS n_chunk_tok,
        |  CAST(toks[cid * 3 + 1] AS BIGINT) AS first_tok,
        |  CAST(toks[least(cid * 3 + 4, n)] AS BIGINT) AS last_tok,
        |  CAST(list_sum(toks[cid * 3 + 1 : cid * 3 + 4]) AS BIGINT) AS tok_sum
        |FROM ch
        |ORDER BY doc_id, chunk_id, chunk_start, n_chunk_tok,
        |         first_tok, last_tok, tok_sum""".stripMargin)),

    // token-level benchmark decontamination over the derived seq table:
    // the "benchmark" is a deterministic suffix-slice of every mod-89
    // doc's clean token sequence, so leaked 3-grams are planted by
    // construction; Spark matches on native gram HASHES, the oracle on
    // gram CONTENT (DuckDB list slices) — equal counts prove the hash
    // path finds exactly the true overlaps
    QuerySpec("q_decontaminate", ((s, d) => {
      Decontamination.contaminated(
          decontamCorpus(s, d), "doc_id", "tokens",
          decontamBench(s, d), "tokens", n = 3)
        .orderBy("doc_id")
    }), Sql(
      s"""WITH $SeqTableCte,
        |corpus AS (SELECT did, toks FROM s2 WHERE starts_with(did, 'doc_')),
        |bench AS (
        |  SELECT list_transform(range(1, doc_id % 7 + 5),
        |                        i -> (doc_id * 31 + i * 17) % 50000) AS btoks
        |  FROM documents WHERE doc_id % 89 = 0),
        |bg AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_transform(range(0, greatest(len(btoks) - 2, 0)),
        |                               i -> btoks[i + 1 : i + 3])) AS g
        |  FROM bench)),
        |cg AS (SELECT DISTINCT did, g FROM (
        |  SELECT did, unnest(list_transform(range(0, greatest(len(toks) - 2, 0)),
        |                                    i -> toks[i + 1 : i + 3])) AS g
        |  FROM corpus)),
        |ng AS (SELECT did, count(*) AS n_grams FROM cg GROUP BY did),
        |m AS (SELECT did, count(*) AS n_matched
        |      FROM cg JOIN bg USING (g) GROUP BY did)
        |SELECT m.did AS doc_id, ng.n_grams, m.n_matched,
        |       round(m.n_matched / ng.n_grams, 6) AS contamination_rate
        |FROM m JOIN ng USING (did)
        |WHERE m.n_matched >= 1
        |ORDER BY doc_id""".stripMargin)),

    // the apply step: corpus minus contaminated docs, with a payload
    // checksum (sum of n_tok) proving the survivors are the right rows
    QuerySpec("q_decontam_clean", ((s, d) =>
      Decontamination.removeContaminated(
          decontamCorpus(s, d), "doc_id", "tokens",
          decontamBench(s, d), "tokens", n = 3)
        .agg(count(lit(1)).as("n_clean"),
          sum(col("n_tok")).as("sum_ntok"))), Sql(
      s"""WITH $SeqTableCte,
        |corpus AS (SELECT did, toks, n_tok FROM s2 WHERE starts_with(did, 'doc_')),
        |bench AS (
        |  SELECT list_transform(range(1, doc_id % 7 + 5),
        |                        i -> (doc_id * 31 + i * 17) % 50000) AS btoks
        |  FROM documents WHERE doc_id % 89 = 0),
        |bg AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_transform(range(0, greatest(len(btoks) - 2, 0)),
        |                               i -> btoks[i + 1 : i + 3])) AS g
        |  FROM bench)),
        |cg AS (SELECT DISTINCT did, g FROM (
        |  SELECT did, unnest(list_transform(range(0, greatest(len(toks) - 2, 0)),
        |                                    i -> toks[i + 1 : i + 3])) AS g
        |  FROM corpus)),
        |bad AS (SELECT DISTINCT did FROM cg JOIN bg USING (g))
        |SELECT count(*) AS n_clean, CAST(sum(n_tok) AS BIGINT) AS sum_ntok
        |FROM corpus WHERE did NOT IN (SELECT did FROM bad)""".stripMargin)),

    // rows-only: the Karp–Rabin hash values are seed-specific; the
    // SQL-expressible halves are oracled by q_fingerprint_meta below
    QuerySpec("q_fingerprints", ((s, d) => {
      TextExpressions.register(s)
      t(s, d, "documents")
        .select(col("doc_id"), TextExpressions.fingerprint(col("text"), 32).as("fingerprint"))
        .orderBy("doc_id")
    }), RowsOnly("the Karp–Rabin hash values are seed-specific")),

    // the oracle companion for q_fingerprints: per-doc determinism
    // across a repartition, plus content-functionality — every group of
    // EQUAL texts must carry exactly one distinct fingerprint (the
    // fingerprint is a pure function of content, never of id/partition/
    // evaluation order). Distinct-fp-equals-distinct-text is NOT
    // claimed: a windowed fingerprint legitimately collides docs that
    // share their minimizing window, so only the hash values themselves
    // stay rows-only (q_fingerprints).
    // fingerprint determinism + content-functionality: every doc
    // reproduces its fingerprint on a reshuffled copy, and no group of
    // equal texts ever splits across fingerprints (pure function of
    // content) — the hash values themselves stay rows-only
    QuerySpec("q_fingerprint_meta", ((s, d) => {
      TextExpressions.register(s)
      val docs = t(s, d, "documents")
      val a = docs.select(col("doc_id"), col("text"),
        TextExpressions.fingerprint(col("text"), 32).as("f1"))
      val b = docs.repartition(5, col("doc_id")).select(col("doc_id"),
        TextExpressions.fingerprint(col("text"), 32).as("f2"))
      val det = a.join(b, Seq("doc_id")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("f1") === col("f2"), 1L).otherwise(0L))
          .as("n_deterministic"))
      val multi = a.groupBy(col("text"))
        .agg(countDistinct(col("f1")).as("__nf"))
        .agg(coalesce(sum(when(col("__nf") > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_multi_fp_texts"))
      det.crossJoin(multi)
    }), Sql(
      """SELECT count(*) AS n_docs, count(*) AS n_deterministic,
        |  CAST(0 AS BIGINT) AS n_multi_fp_texts
        |FROM documents""".stripMargin)),

    // active-learning margin sampler: the 20 documents the quality
    // classifier is LEAST sure about (|log-odds| closest to 0) — where
    // a labeling budget buys the most; projection + TakeOrdered
    QuerySpec("q_active_margin", ((s, d) =>
      TextAnalysis.uncertaintySample(t(s, d, "documents"), "doc_id",
        "text", bias = -2.0,
        Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
          "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0), k = 20)), Sql(
      """WITH feat AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |lo AS (
        |  SELECT doc_id,
        |    round(mwl * 0.5 + n_words * 0.02 + punct_ratio * -8.0
        |          + stop_ratio * 4.0 + -2.0, 6) AS log_odds
        |  FROM feat)
        |SELECT doc_id, log_odds, abs(log_odds) AS margin
        |FROM lo ORDER BY margin, doc_id LIMIT 20""".stripMargin)),

    // UCB1 source allocation: mean quality + sqrt(2 ln N / n) per
    // source — the exploration bonus keeps barely-measured sources in
    // the curation budget until they've been SEEN (pure mean-ranking
    // starves them); one sufficient-stats aggregate
    QuerySpec("q_ucb_alloc", ((s, d) => {
      TextExpressions.register(s)
      val w = Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
        "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0)
      val scored = t(s, d, "documents").select(col("source"),
        round(TextAnalysis.logOddsFrom(
          TextAnalysis.textProfile(col("text")), -2.0, w), 6)
          .as("reward"))
      Mixing.ucbAllocation(scored, "source", "reward")
    }), Sql(
      """WITH feat AS (
        |  SELECT doc_id, source,
        |    len(ws) AS n_words,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio
        |  FROM (SELECT doc_id, source, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |lo AS (
        |  SELECT doc_id, coalesce(source, '<null>') AS g,
        |    round(mwl * 0.5 + n_words * 0.02 + punct_ratio * -8.0
        |          + stop_ratio * 4.0 + -2.0, 6) AS reward
        |  FROM feat),
        |per AS (SELECT g, count(reward) AS n, sum(reward) AS s
        |        FROM lo GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn FROM per)
        |SELECT per.g AS source, per.n,
        |  round(per.s / per.n, 6) AS mean_reward,
        |  round(per.s / per.n
        |        + sqrt(2.0::DOUBLE * ln(tot.nn::DOUBLE) / per.n), 6)
        |    AS ucb
        |FROM per, tot ORDER BY ucb DESC, source""".stripMargin)),

    // 2-D Pareto frontier over (length, quality): the best document at
    // every length budget — the whole selection menu, not one blended
    // trade-off point; O(distinct lengths) window, corpus never sorts
    QuerySpec("q_pareto_front", ((s, d) => {
      TextExpressions.register(s)
      val w = Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
        "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0)
      val scored = t(s, d, "documents").select(col("doc_id"),
        col("n_chars"),
        round(TextAnalysis.logOddsFrom(
          TextAnalysis.textProfile(col("text")), -2.0, w), 6)
          .as("log_odds"))
      Selection.paretoFrontier(scored, "doc_id", "n_chars", "log_odds")
    }), Sql(
      """WITH feat AS (
        |  SELECT doc_id, n_chars,
        |    len(ws) AS n_words,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio
        |  FROM (SELECT doc_id, n_chars, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |base AS (
        |  SELECT doc_id, n_chars,
        |    round(mwl * 0.5 + n_words * 0.02 + punct_ratio * -8.0
        |          + stop_ratio * 4.0 + -2.0, 6) AS log_odds
        |  FROM feat WHERE n_chars IS NOT NULL),
        |grp AS (SELECT n_chars, max(log_odds) AS gy FROM base GROUP BY 1),
        |pref AS (SELECT n_chars, gy,
        |           max(gy) OVER (ORDER BY n_chars DESC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             AS strict
        |         FROM grp)
        |SELECT b.doc_id, b.n_chars, b.log_odds
        |FROM base b JOIN pref p USING (n_chars)
        |WHERE (p.strict IS NULL OR p.strict < b.log_odds)
        |  AND b.log_odds = p.gy
        |ORDER BY n_chars DESC, log_odds DESC, doc_id""".stripMargin)),

    // data valuation by set membership: what each source UNIQUELY
    // contributes (words in no other source + their mass; one planted
    // per-source marker word keeps the signal visible at tiny vocab) —
    // the hard deletion-candidate readout xent similarity can't give
    QuerySpec("q_source_exclusivity", ((s, d) =>
      TextAnalysis.sourceExclusivity(
        t(s, d, "documents").withColumn("text",
          concat(col("text"), lit(" xsrc"), col("source"))),
        "source", "text")), Sql(
      """WITH c AS (
        |  SELECT coalesce(source, '<null>') AS g,
        |    unnest(list_filter(string_split_regex(
        |      lower(trim(text || ' xsrc' || source)), '\s+'),
        |      x -> x <> '')) AS w
        |  FROM documents),
        |cnt AS (SELECT g, w, count(*) AS c FROM c GROUP BY 1, 2),
        |sp AS (SELECT w, count(*) AS ns FROM cnt GROUP BY 1)
        |SELECT cnt.g AS source, count(*) AS n_words,
        |  CAST(sum(CASE WHEN sp.ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exclusive_words,
        |  CAST(sum(cnt.c) AS BIGINT) AS token_mass,
        |  CAST(sum(CASE WHEN sp.ns = 1 THEN cnt.c ELSE 0 END) AS BIGINT)
        |    AS exclusive_mass,
        |  round(sum(CASE WHEN sp.ns = 1 THEN cnt.c ELSE 0 END)::DOUBLE
        |        / sum(cnt.c), 6) AS exclusive_share
        |FROM cnt JOIN sp USING (w) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // order-1 entropy rate of the TOKEN stream (the north-star
    // payload): H(next|cur) vs H(token) — a predictability ratio that
    // climbs across snapshots means the corpus is getting more
    // templated even when the unigram mix is stable; pairs built
    // in-row, token arrays never explode before pairing
    QuerySpec("q_token_entropy", ((s, d) =>
      TokenHealth.tokenTransitionEntropy(seqFromDocs(s, d), "tokens")), Sql(
      s"""WITH $SeqTableCte,
        |pr AS (SELECT unnest(toks[1:len(toks)-1]) AS x,
        |              unnest(toks[2:len(toks)]) AS y
        |       FROM s2 WHERE toks IS NOT NULL AND len(toks) >= 2),
        |j AS (SELECT x, y, count(*) AS c FROM pr GROUP BY 1, 2),
        |n AS (SELECT sum(c)::DOUBLE AS n FROM j),
        |cx AS (SELECT x, sum(c) AS cx FROM j GROUP BY 1),
        |cy AS (SELECT y, sum(c) AS cy FROM j GROUP BY 1),
        |hc AS (SELECT sum(-(j.c / n.n) * ln(j.c::DOUBLE / cx.cx)) AS h
        |       FROM j JOIN cx USING (x), n),
        |hm AS (SELECT sum(-(cy.cy / n.n) * ln(cy.cy / n.n)) AS h
        |       FROM cy, n)
        |SELECT CAST((SELECT sum(c) FROM j) AS BIGINT) AS n_pairs,
        |  round(hc.h, 6) AS h_conditional, round(hm.h, 6) AS h_marginal,
        |  CASE WHEN hm.h > 0 THEN round(1.0::DOUBLE - hc.h / hm.h, 6) END
        |    AS predictability
        |FROM hc, hm""".stripMargin)),

    // token-payload gram diversity: the token-native repetition signal
    // (distinct 3-token windows / total windows per doc)
    QuerySpec("q_token_diversity", ((s, d) =>
      decontamCorpus(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenGramDiversity(col("tokens"), 3).as("gram_diversity"))
        .orderBy("doc_id")), Sql(
      s"""WITH $SeqTableCte,
        |corpus AS (SELECT did, toks FROM s2 WHERE starts_with(did, 'doc_')),
        |g AS (SELECT did,
        |        list_transform(range(0, greatest(len(toks) - 2, 0)),
        |                       i -> toks[i + 1 : i + 3]) AS gl
        |      FROM corpus),
        |g2 AS (SELECT did, len(gl) AS wins, unnest(gl) AS gr
        |       FROM g WHERE len(gl) > 0),
        |d AS (SELECT did,
        |        round(count(DISTINCT gr) / any_value(wins), 6) AS gd
        |      FROM g2 GROUP BY did)
        |SELECT c.did AS doc_id, d.gd AS gram_diversity
        |FROM corpus c LEFT JOIN d ON c.did = d.did
        |ORDER BY doc_id""".stripMargin)),

    // pairwise head-vocabulary (top-30 words) Jaccard between sources —
    // the mixture-design redundancy/diversity matrix; exchanges carry
    // (source, word) pairs, text never moves, and everything past the
    // per-source top-k is bounded at k x |sources| rows
    QuerySpec("q_vocab_overlap", ((s, d) =>
      TextAnalysis.vocabOverlap(t(s, d, "documents"), "source", "text",
          k = 30)
        .orderBy("source_a", "source_b")), Sql(
      """WITH w AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(trim(text)),
        |      '\s+'), x -> x <> '')) AS word
        |  FROM documents WHERE source IS NOT NULL),
        |c AS (SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2),
        |t AS (SELECT source, word FROM (
        |    SELECT source, word, row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, word ASC) AS r FROM c)
        |  WHERE r <= 30),
        |s AS (SELECT source, count(*) AS sz FROM t GROUP BY 1)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_common,
        |  round(CAST(count(*) AS DOUBLE)
        |    / (sa.sz + sb.sz - count(*)), 6) AS jaccard
        |FROM t a JOIN t b ON a.word = b.word AND a.source < b.source
        |JOIN s sa ON sa.source = a.source
        |JOIN s sb ON sb.source = b.source
        |GROUP BY a.source, b.source, sa.sz, sb.sz
        |ORDER BY 1, 2""".stripMargin)),

    // C4-style bad-word gate: word-level blocklist occurrence count,
    // ratio, and keep verdict — pure zero-shuffle projection, list
    // rides the plan as a literal
    QuerySpec("q_badword_filter", ((s, d) =>
      orderedOnce(
        TextAnalysis.badWordStats(t(s, d, "documents"), "doc_id", "text",
          Seq("merge", "shuffle", "spill"), maxRatio = 0.05),
        "doc_id")), Sql(
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(ws, x ->
        |      list_contains(['merge', 'shuffle', 'spill'], x))) AS BIGINT)
        |      AS n_bad
        |  FROM w)
        |SELECT doc_id, n_words, n_bad,
        |  round(CAST(n_bad AS DOUBLE)
        |    / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS bad_ratio,
        |  round(CAST(n_bad AS DOUBLE)
        |    / CAST(greatest(n_words, 1) AS DOUBLE), 6) <= 0.05 AS keep
        |FROM c ORDER BY doc_id""".stripMargin)),

    // stupid-backoff trigram LM (Brants 2007): model trained on even
    // docs, odd docs scored — unseen trigrams back off to bigram then
    // Laplace-floored unigram, all exact integer count ratios
    QuerySpec("q_trigram_backoff", ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.trigramBackoff(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .orderBy("doc_id")
    }), Sql(
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        |  FROM (SELECT doc_id, list_filter(string_split_regex(
        |          lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |tg AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |  FROM tok QUALIFY w3 IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tok QUALIFY w2 IS NOT NULL),
        |uni AS (SELECT w, count(*) AS c1 FROM tok WHERE doc_id % 2 = 0
        |        GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n,
        |               count(*) AS v FROM uni),
        |bi AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % 2 = 0
        |       GROUP BY 1, 2),
        |ctx2 AS (SELECT w1 AS w, CAST(sum(c2) AS BIGINT) AS cw FROM bi
        |         GROUP BY 1),
        |tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg
        |        WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
        |ctx3 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c12 FROM tri
        |         GROUP BY 1, 2),
        |sc AS (
        |  SELECT sg.doc_id, count(*) AS n_trigrams,
        |    round(sum(CASE
        |      WHEN tri.c3 IS NOT NULL THEN
        |        ln(CAST(tri.c3 AS DOUBLE) / CAST(ctx3.c12 AS DOUBLE))
        |      WHEN b23.c2 IS NOT NULL THEN
        |        ln(0.4 * CAST(b23.c2 AS DOUBLE) / CAST(c2w.cw AS DOUBLE))
        |      ELSE ln(0.4 * 0.4
        |        * (CAST(coalesce(u3.c1, 0) AS DOUBLE) + 1.0)
        |        / CAST(tot.n + tot.v AS DOUBLE))
        |    END) / count(*), 6) AS avg_logprob
        |  FROM tg sg
        |  LEFT JOIN tri ON sg.w1 = tri.w1 AND sg.w2 = tri.w2
        |                AND sg.w3 = tri.w3
        |  LEFT JOIN ctx3 ON sg.w1 = ctx3.w1 AND sg.w2 = ctx3.w2
        |  LEFT JOIN bi b23 ON sg.w2 = b23.w1 AND sg.w3 = b23.w2
        |  LEFT JOIN ctx2 c2w ON sg.w2 = c2w.w
        |  LEFT JOIN uni u3 ON sg.w3 = u3.w
        |  CROSS JOIN tot
        |  WHERE sg.doc_id % 2 = 1
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(sc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |  sc.avg_logprob
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |WHERE d.doc_id % 2 = 1
        |ORDER BY d.doc_id""".stripMargin)),

    // CCNet head/middle/tail LM-quality terciles per language —
    // rank-based cuts (exact integer arithmetic), unscorable docs get
    // a loud NULL bucket
    QuerySpec("q_ccnet_buckets", ((s, d) =>
      TextAnalysis.lmQualityBuckets(t(s, d, "documents"), "doc_id",
          "text", "lang")
        .orderBy("doc_id")), Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(
        |    lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq),
        |sc AS (
        |  SELECT tok.doc_id,
        |         round(sum(ln(CAST(freq.n AS DOUBLE) / tot.total))
        |           / count(*), 6) AS avg_logprob
        |  FROM tok JOIN freq USING (w), tot
        |  GROUP BY tok.doc_id),
        |scored AS (
        |  SELECT d.doc_id, d.lang, sc.avg_logprob
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
        |b AS (
        |  SELECT doc_id, lang, avg_logprob,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY avg_logprob, doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored WHERE avg_logprob IS NOT NULL)
        |SELECT doc_id, lang, avg_logprob,
        |  CASE WHEN rnk <= n // 3 THEN 'tail'
        |       WHEN rnk <= (n * 2) // 3 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM b
        |UNION ALL
        |SELECT doc_id, lang, avg_logprob, NULL AS bucket
        |FROM scored WHERE avg_logprob IS NULL
        |ORDER BY doc_id""".stripMargin)),

    // scraped-template detection: dominant 8-word document prefix per
    // source (template planted on doc_id%4==0 so the winner and its
    // share are non-trivial); winner via max-of-struct, prefix-level
    // exchanges only
    QuerySpec("q_template_headers", ((s, d) => {
      val docs = t(s, d, "documents").withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(lit("tpl hdr one two three four five six "), col("text")))
          .otherwise(col("text")))
      TextAnalysis.templateHeaders(docs, "source", "text", prefixWords = 8)
        .orderBy("source")
    }), Sql(
      """WITH d2 AS (
        |  SELECT source, CASE WHEN doc_id % 4 = 0
        |    THEN 'tpl hdr one two three four five six ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT source, list_filter(string_split_regex(
        |        lower(trim(text)), '\s+'), x -> x <> '') AS ws FROM d2),
        |p AS (SELECT source, array_to_string(ws[1:8], ' ') AS pfx
        |      FROM w WHERE len(ws) > 0),
        |c AS (SELECT source, pfx, count(*) AS n FROM p GROUP BY 1, 2),
        |r AS (SELECT source, pfx, n,
        |        CAST(sum(n) OVER (PARTITION BY source) AS BIGINT)
        |          AS n_docs,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY n DESC, pfx DESC) AS rn
        |      FROM c)
        |SELECT source, pfx AS top_prefix, n_docs, n AS top_n,
        |  round(CAST(n AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS top_share
        |FROM r WHERE rn = 1 ORDER BY source""".stripMargin)),

    // per-doc 3-gram novelty of the odd half against the even half —
    // the "does it add anything" score; distinct gram sets, word-tuple
    // joins, text never enters an exchange
    QuerySpec("q_ngram_novelty", ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.ngramNovelty(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }), Sql(
      """WITH tok AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        |  FROM (SELECT doc_id, list_filter(string_split_regex(
        |          lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |tg AS (
        |  SELECT doc_id, w AS w1,
        |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |  FROM tok QUALIFY w3 IS NOT NULL),
        |ref AS (SELECT DISTINCT w1, w2, w3 FROM tg WHERE doc_id % 2 = 0),
        |dg AS (SELECT DISTINCT doc_id, w1, w2, w3 FROM tg
        |       WHERE doc_id % 2 = 1),
        |sc AS (
        |  SELECT dg.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN r.w1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS novel
        |  FROM dg LEFT JOIN ref r ON dg.w1 = r.w1 AND dg.w2 = r.w2
        |                          AND dg.w3 = r.w3
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
        |  round(CAST(sc.novel AS DOUBLE) / CAST(sc.n_grams AS DOUBLE), 6)
        |    AS novelty
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |WHERE d.doc_id % 2 = 1
        |ORDER BY d.doc_id""".stripMargin)),

    // NDCG@10 of the BM25 ranking against graded term-hit relevance —
    // the retrieval-eval closure of the q_bm25 tier; both rankings are
    // TakeOrdered folds, position math on the 10 survivors only
    QuerySpec("q_ndcg", ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val terms = Seq("spark", "window", "merge")
      val scored = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms,
        k = 1000000)
      val rel = docs.select(col("doc_id"),
        size(array_intersect(
          array_distinct(TextAnalysis.words(col("text"))),
          lit(terms.toArray))).cast("long").as("rel"))
      Profile.ndcgAtK(scored.join(rel, Seq("doc_id")), "doc_id", "bm25",
        "rel", k = 10)
    }), Sql(
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x <> '')) AS dl,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x = 'spark')) AS tf_spark,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x = 'window')) AS tf_window,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x = 'merge')) AS tf_merge
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |    sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window,
        |    sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
        |  FROM base),
        |sc AS (
        |  SELECT doc_id, round(
        |      CAST(tf_spark AS DOUBLE) * (1.2 + 1.0)
        |        / (tf_spark + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |        * ln(1 + (n - df_spark + 0.5) / (df_spark + 0.5))
        |    + CAST(tf_window AS DOUBLE) * (1.2 + 1.0)
        |        / (tf_window + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |        * ln(1 + (n - df_window + 0.5) / (df_window + 0.5))
        |    + CAST(tf_merge AS DOUBLE) * (1.2 + 1.0)
        |        / (tf_merge + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
        |        * ln(1 + (n - df_merge + 0.5) / (df_merge + 0.5)), 6)
        |    AS bm25
        |  FROM base, stats),
        |rel AS (
        |  SELECT doc_id, CAST(len(list_intersect(
        |    list_distinct(list_filter(string_split_regex(
        |      lower(trim(text)), '\s+'), x -> x <> '')),
        |    ['spark', 'window', 'merge'])) AS BIGINT) AS rel
        |  FROM documents),
        |j AS (SELECT sc.doc_id, sc.bm25, rel.rel
        |      FROM sc JOIN rel USING (doc_id)),
        |d AS (SELECT sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS dcg
        |      FROM (SELECT rel, row_number() OVER (
        |              ORDER BY bm25 DESC, doc_id) AS pos
        |            FROM j ORDER BY bm25 DESC, doc_id LIMIT 10)),
        |i AS (SELECT sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS idcg
        |      FROM (SELECT rel, row_number() OVER (
        |              ORDER BY rel DESC, doc_id) AS pos
        |            FROM j ORDER BY rel DESC, doc_id LIMIT 10))
        |SELECT 10 AS k, round(coalesce(d.dcg, 0.0), 6) AS dcg,
        |  round(coalesce(i.idcg, 0.0), 6) AS idcg,
        |  CASE WHEN coalesce(i.idcg, 0.0) > 0
        |       THEN round(d.dcg / i.idcg, 6) END AS ndcg
        |FROM d, i""".stripMargin)),

    // detokenize round trip: ids → words via the literal vocab;
    // OOV renders <unk>, in-vocab words reconstruct exactly
    QuerySpec("q_detokenize", ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = TextAnalysis.buildVocab(docs, "text", size = 20)
      // NOT orderedOnce: the projection emits the round-trip TEXT, so
      // the shuffle boundary would move text bytes — measured neutral
      // warm (0.47 vs 0.49 s) and worse cold; the double tokenize eval
      // is the cheaper side of this trade
      docs.select(col("doc_id"),
          TextAnalysis.detokenize(
            TextAnalysis.tokenize(col("text"), vocab, unkId = -1), vocab)
            .as("round_trip"))
        .orderBy("doc_id")
    }), Sql(
      """WITH wl AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(l) AS word,
        |         CAST(unnest(range(0, len(l))) AS INTEGER) AS pos
        |  FROM wl),
        |vocab AS (
        |  SELECT word,
        |         CAST(row_number() OVER (ORDER BY n DESC, word) - 1
        |              AS INTEGER) AS id
        |  FROM (SELECT word, count(*) AS n FROM words
        |        GROUP BY 1 ORDER BY n DESC, word LIMIT 20)),
        |rt AS (
        |  SELECT w.doc_id, w.pos,
        |    CASE WHEN v.id IS NOT NULL THEN w.word ELSE '<unk>' END
        |      AS wout
        |  FROM words w LEFT JOIN vocab v USING (word))
        |SELECT d.doc_id,
        |  coalesce(string_agg(wout, ' ' ORDER BY pos), '') AS round_trip
        |FROM documents d LEFT JOIN rt ON d.doc_id = rt.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // Flesch reading-ease: regexp-count arithmetic, zero-shuffle
    // projection; DuckDB's independent regex engine replays the
    // word/sentence/vowel-group counting
    QuerySpec("q_readability", ((s, d) =>
      orderedOnce(
        TextAnalysis.readability(t(s, d, "documents"), "doc_id", "text"),
        "doc_id")), Sql(
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)),
        |      '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN round(
        |    206.835
        |      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
        |  END AS flesch
        |FROM c ORDER BY doc_id""".stripMargin)),

    // degenerate-generation detection over token arrays: longest
    // repeated-token run + mode-token share, computed as IN-ROW folds
    // (zero exchange) while the oracle replays the explode +
    // gaps-and-islands window spelling. Plants: %43 docs are a constant
    // array (share 1.0), %41 docs get a 6-token run appended.
    QuerySpec("q_token_runs", ((s, d) =>
      TokenHealth.runStats(degenTokens(s, d), "doc_id", "tokens")
        .orderBy("doc_id")), Sql(
      s"""WITH $degenTokensCte
        |SELECT nn.doc_id, n_tok, max_run, top_token_count, n_distinct,
        |  CASE WHEN n_tok > 0 THEN
        |    CAST(top_token_count AS DOUBLE) / n_tok END AS top_share,
        |  CASE WHEN n_tok > 0 THEN
        |    CAST(n_distinct AS DOUBLE) / n_tok END AS distinct_ratio
        |FROM nn JOIN mr USING (doc_id) JOIN tc USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_degenerate_filter", ((s, d) =>
      TokenHealth.dropDegenerate(degenTokens(s, d), "tokens",
          maxRun = 20, maxTopShare = 0.5)
        .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tok"))
        .orderBy("doc_id")), Sql(
      s"""WITH $degenTokensCte
        |SELECT nn.doc_id, n_tok
        |FROM nn JOIN mr USING (doc_id) JOIN tc USING (doc_id)
        |WHERE max_run < 20
        |  AND CAST(top_token_count AS DOUBLE) < 0.5 * n_tok
        |ORDER BY doc_id""".stripMargin)),

    // char-entropy gibberish signal: one native HashMap pass per
    // row, zero shuffle; DuckDB's entropy() aggregate over exploded
    // chars replays the same log2 formula (ASCII-projected so both
    // engines count identical codepoints; 4-dp round absorbs
    // sum-order ulps)
    QuerySpec("q_char_entropy", ((s, d) => {
      TextExpressions.register(s)
      orderedOnce(
        t(s, d, "documents")
          .select(col("doc_id"),
            round(TextAnalysis.charEntropy(
              regexp_replace(col("text"), "[^\\x20-\\x7e]", "")), 4).as("h")),
        "doc_id")
    }), Sql(
      """WITH d AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '[^\x20-\x7e]', '', 'g') AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, unnest(range(1, length(t) + 1)) AS i FROM d)
        |SELECT d.doc_id,
        |       coalesce(h.h, 0.0) AS h
        |FROM d LEFT JOIN (
        |  SELECT doc_id, round(entropy(substr(t, CAST(i AS INT), 1)), 4) AS h
        |  FROM c GROUP BY doc_id) h USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // class-based TF-IDF (BERTopic formula): the terms that
    // CHARACTERIZE each source — integer counts through one fixed ln,
    // so the SQL replica is bit-exact; text never moves past the scan
    QuerySpec("q_ctfidf", ((s, d) =>
      TextAnalysis.classTfIdfTopTerms(t(s, d, "documents"), "source",
          "text", k = 3)
        .orderBy("cls", "rank")), Sql(
      """WITH w AS (
        |  SELECT source AS cls, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS word
        |  FROM documents),
        |tf AS (SELECT cls, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |cf AS (SELECT word, count(*) AS f FROM w GROUP BY 1),
        |a AS (SELECT sum(tf)::DOUBLE / count(DISTINCT cls)::DOUBLE AS a
        |      FROM tf)
        |SELECT cls, rank, word, round(score, 6) AS ctfidf FROM (
        |  SELECT tf.cls, tf.word, tf.tf * ln(1.0 + a.a / cf.f) AS score,
        |         CAST(row_number() OVER (PARTITION BY tf.cls
        |           ORDER BY tf.tf * ln(1.0 + a.a / cf.f) DESC, tf.word)
        |           AS BIGINT) AS rank
        |  FROM tf JOIN cf USING (word), a)
        |WHERE rank <= 3 ORDER BY cls, rank""".stripMargin)),

    // Luhn-validated card candidates: extraction + normalization
    // + checksum all oracle-replayed (DuckDB spells the check digit as
    // list arithmetic; Spark uses the codegen'd luhn_check builtin);
    // candidates synthesized into the text by id arithmetic so ~10 %
    // pass — the precision gap vs a bare regex is the visible result
    QuerySpec("q_luhn_pii", ((s, d) => {
      val synth = t(s, d, "documents").select(col("doc_id"), concat(
        lit("card "),
        lpad(((col("doc_id") * 48271 + 11) % 100000000000000L)
          .cast("string"), 14, "0"),
        lit(" tail")).as("text2"))
      orderedOnce(TextAnalysis.luhnCandidates(synth, "doc_id", "text2"),
        "doc_id", "cand")
    }), Sql(
      """WITH s AS (
        |  SELECT doc_id,
        |         'card ' || lpad(CAST((doc_id * 48271 + 11) %
        |           100000000000000 AS VARCHAR), 14, '0') || ' tail' AS text2
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text2,
        |    '[0-9][0-9 -]{11,20}[0-9]', 0)) AS raw
        |  FROM s),
        |n AS (
        |  SELECT doc_id, regexp_replace(raw, '[ -]', '', 'g') AS cand
        |  FROM e)
        |SELECT doc_id, cand,
        |       list_sum(list_transform(range(1, length(cand) + 1), i ->
        |         CASE WHEN i % 2 = 1
        |              THEN CAST(substr(reverse(cand), CAST(i AS INT), 1)
        |                        AS INT)
        |              ELSE CASE WHEN CAST(substr(reverse(cand),
        |                          CAST(i AS INT), 1) AS INT) * 2 > 9
        |                   THEN CAST(substr(reverse(cand), CAST(i AS INT),
        |                             1) AS INT) * 2 - 9
        |                   ELSE CAST(substr(reverse(cand), CAST(i AS INT),
        |                             1) AS INT) * 2 END
        |         END)) % 10 = 0 AS luhn_ok
        |FROM n WHERE length(cand) BETWEEN 13 AND 19
        |ORDER BY doc_id, cand""".stripMargin)),

    // per-source hapax ratio: the Zipf-tail health signal (OCR
    // noise scores high, template spam low); (class, word) counts
    // collapse map-side, text never leaves the scan
    QuerySpec("q_hapax", ((s, d) =>
      TextAnalysis.hapaxStats(t(s, d, "documents"), "source", "text")), Sql(
      """WITH w AS (
        |  SELECT source AS cls, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS word
        |  FROM documents),
        |c AS (SELECT cls, word, count(*) AS c FROM w GROUP BY 1, 2)
        |SELECT cls, CAST(sum(c) AS BIGINT) AS n_words,
        |       count(*) AS n_distinct,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hapax,
        |       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
        |FROM c GROUP BY cls ORDER BY cls""".stripMargin)),

    // Unicode script-mix profile: planted Cyrillic/CJK-dominant
    // docs and latin+Greek mixed docs by doc_id arithmetic — the
    // contamination signal stopword langid misses
    // script-mix: identical planted-text CASE, identical RE2 character
    // classes, identical priority-order dominant tie-break
    QuerySpec("q_script_mix", ((s, d) => {
      val id = col("doc_id").cast("long")
      val txt = when(id % 19 === 0,
          expr("repeat('привет мир данные ', CAST(doc_id % 5 + 2 AS INT))"))
        .when(id % 23 === 0,
          expr("repeat('数据质量检查 ', CAST(doc_id % 4 + 2 AS INT))"))
        .when(id % 7 === 0,
          concat(substring(col("text"), 1, 30),
            lit(" αβγδεζηθικλμνξοπρστυφχψω αβγδεζηθικλμνξο")))
        .otherwise(col("text"))
      TextAnalysis.scriptMix(
        t(s, d, "documents").select(col("doc_id"), txt.as("text")),
        "doc_id", "text")
    }), Sql(
      """WITH x AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 19 = 0
        |           THEN repeat('привет мир данные ',
        |                       CAST(doc_id % 5 + 2 AS INT))
        |         WHEN doc_id % 23 = 0
        |           THEN repeat('数据质量检查 ', CAST(doc_id % 4 + 2 AS INT))
        |         WHEN doc_id % 7 = 0
        |           THEN substr(text, 1, 30) ||
        |                ' αβγδεζηθικλμνξοπρστυφχψω αβγδεζηθικλμνξο'
        |         ELSE text END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT)
        |      AS n_latin,
        |    CAST(len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]'))
        |      AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}]'))
        |      AS BIGINT) AS n_cjk,
        |    CAST(len(regexp_extract_all(t, '[\x{0370}-\x{03FF}]'))
        |      AS BIGINT) AS n_greek
        |  FROM x),
        |e AS (
        |  SELECT *, n_latin + n_cyrillic + n_cjk + n_greek
        |           AS n_script_chars,
        |         greatest(n_latin, n_cyrillic, n_cjk, n_greek) AS top
        |  FROM c)
        |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_greek,
        |  n_script_chars,
        |  CASE WHEN n_script_chars = 0 THEN 'none'
        |       WHEN n_latin = top THEN 'latin'
        |       WHEN n_cyrillic = top THEN 'cyrillic'
        |       WHEN n_cjk = top THEN 'cjk' ELSE 'greek' END AS dominant,
        |  CASE WHEN n_script_chars = 0 THEN NULL
        |       ELSE round(CAST(top AS DOUBLE)
        |                  / CAST(n_script_chars AS DOUBLE), 6)
        |  END AS purity,
        |  CASE WHEN n_script_chars = 0 THEN FALSE
        |       ELSE round(CAST(top AS DOUBLE)
        |                  / CAST(n_script_chars AS DOUBLE), 6) < 0.8
        |  END AS mixed
        |FROM e ORDER BY doc_id""".stripMargin)),

    // Heaps'-law vocab-growth fit (the q_zipf_fit companion):
    // cumulative vocab vs cumulative tokens in doc_id order, both
    // cumulatives on the two-level distributed prefix sum
    // Heaps fit: cumulative tokens / cumulative first-seen vocab in
    // doc_id order (the oracle's window cumsum replays the engine's
    // two-level prefix sum), OLS in log-log space
    QuerySpec("q_heaps_fit", ((s, d) =>
      TextAnalysis.heapsFit(t(s, d, "documents"), "doc_id", "text")), Sql(
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(
        |    lower(trim(text)), '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |pt AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
        |fs AS (SELECT w, min(doc_id) AS doc_id FROM tok GROUP BY w),
        |pv AS (SELECT doc_id, count(*) AS nv FROM fs GROUP BY doc_id),
        |cum AS (
        |  SELECT pt.doc_id,
        |         sum(pt.nt) OVER (ORDER BY pt.doc_id) AS cn,
        |         sum(coalesce(pv.nv, 0)) OVER (ORDER BY pt.doc_id) AS cv
        |  FROM pt LEFT JOIN pv USING (doc_id))
        |SELECT round(regr_slope(ln(cv), ln(cn)), 6) AS heaps_beta,
        |       round(exp(regr_intercept(ln(cv), ln(cn))), 6) AS heaps_k,
        |       round(regr_r2(ln(cv), ln(cn)), 6) AS heaps_r2,
        |       count(*) AS n_docs
        |FROM cum WHERE cn > 0 AND cv > 0""".stripMargin)),

    // Aho–Corasick multi-phrase scan: every phrase of the list
    // counted in ONE automaton pass per doc (k regexp passes → 1);
    // borderless phrases so the oracle's replace-count is provably
    // equal to the automaton's all-positions count
    // phrase scan: the phrases are borderless (no proper prefix ==
    // suffix), so non-overlapping replace-counting provably equals the
    // automaton's all-positions count
    QuerySpec("q_phrase_scan", ((s, d) =>
      TextAnalysis.phraseScan(t(s, d, "documents"), "doc_id", "text",
          Seq("table scan", "batch stream", "slow join", "spark",
            "data quality"))
        .orderBy("doc_id", "phrase")), Sql(
      """WITH p(phrase) AS (VALUES ('table scan'), ('batch stream'),
        |                          ('slow join'), ('spark'),
        |                          ('data quality')),
        |c AS (
        |  SELECT doc_id, phrase,
        |         CAST((length(text) - length(replace(text, phrase, '')))
        |              // length(phrase) AS BIGINT) AS n
        |  FROM documents, p)
        |SELECT doc_id, phrase, n FROM c WHERE n > 0
        |ORDER BY doc_id, phrase""".stripMargin)),

    // Spearman rank correlation (n_chars vs word count): average
    // ranks kept exact by doubling, sufficient stats as decimal(38,0),
    // the only ordered windows run over the O(distinct) value frames
    // Spearman: identical doubled average ranks (2·less + n + 1) from
    // the same O(distinct) cumulative frames, HUGEINT sufficient
    // statistics, identical IEEE expression order for rho
    QuerySpec("q_spearman", ((s, d) => {
      TextExpressions.register(s)
      Profile.spearman(
        t(s, d, "documents").select(col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("n_words")),
        "n_chars", "n_words")
    }), Sql(
      """WITH b AS (
        |  SELECT CAST(n_chars AS BIGINT) AS x,
        |         CAST(len(list_filter(string_split_regex(trim(text),
        |           '\s+'), s -> s <> '')) AS BIGINT) AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |cx AS (SELECT x AS value, count(*) AS n FROM b GROUP BY 1),
        |rx AS (SELECT value,
        |         2 * coalesce(sum(n) OVER (ORDER BY value
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |             0) + n + 1 AS r2
        |       FROM cx),
        |cy AS (SELECT y AS value, count(*) AS n FROM b GROUP BY 1),
        |ry AS (SELECT value,
        |         2 * coalesce(sum(n) OVER (ORDER BY value
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |             0) + n + 1 AS r2
        |       FROM cy),
        |j AS (SELECT CAST(rx.r2 AS HUGEINT) AS rv,
        |             CAST(ry.r2 AS HUGEINT) AS sv
        |      FROM b JOIN rx ON b.x = rx.value JOIN ry ON b.y = ry.value),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |             sum(rv) AS sx, sum(sv) AS sy, sum(rv * sv) AS sxy,
        |             sum(rv * rv) AS sxx, sum(sv * sv) AS syy
        |      FROM j)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |            AND CAST(n * syy - sy * sy AS DOUBLE) > 0
        |       THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
        |                  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))),
        |                  6)
        |       ELSE NULL END AS spearman_rho
        |FROM g""".stripMargin)),

    // Good–Turing count-of-counts: the unseen-probability-mass /
    // vocabulary-saturation estimate — word counts collapse map-side,
    // everything after runs on the O(distinct r) frame
    // Good–Turing: identical word split, count-of-counts, and the
    // fixed order (r+1)·N_{r+1} / N_r — all integer inputs
    QuerySpec("q_good_turing", ((s, d) =>
      TextAnalysis.goodTuring(t(s, d, "documents"), "text")), Sql(
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS r
        |       FROM tok GROUP BY w),
        |coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
        |        FROM wc GROUP BY r),
        |tot AS (SELECT CAST(sum(r) AS BIGINT) AS N FROM wc),
        |obs AS (
        |  SELECT c.r, c.n_r,
        |         CAST((c.r + 1) * nx.n_r AS DOUBLE)
        |           / CAST(c.n_r AS DOUBLE) AS rstar_raw,
        |         CAST((c.r + 1) * nx.n_r AS DOUBLE)
        |           / CAST(c.n_r AS DOUBLE) * CAST(c.n_r AS DOUBLE) AS mass
        |  FROM coc c LEFT JOIN coc nx ON nx.r = c.r + 1),
        |uns AS (
        |  SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_r,
        |         CAST(NULL AS DOUBLE) AS rstar_raw,
        |         CAST(n_r AS DOUBLE) AS mass
        |  FROM coc WHERE r = 1),
        |all_r AS (SELECT * FROM obs UNION ALL SELECT * FROM uns)
        |SELECT r, n_r, round(rstar_raw, 6) AS r_star,
        |  CASE WHEN r = 0 THEN round(mass / CAST(tot.N AS DOUBLE), 9)
        |       ELSE round(rstar_raw / CAST(tot.N AS DOUBLE), 9)
        |  END AS p_gt
        |FROM all_r, tot ORDER BY r""".stripMargin)),

    // tokenize→detokenize round-trip loss rate: the audit that
    // the token pipeline is invertible up to OOV — composes the
    // q_tokenize / q_detokenize surfaces into one corpus number
    // round-trip loss: the q_tokenize/q_detokenize CTEs composed into
    // the one corpus rate; equality iff no OOV word in the doc
    QuerySpec("q_roundtrip_loss", ((s, d) => {
      TextExpressions.register(s)
      val docs = t(s, d, "documents")
      val vocab = TextAnalysis.buildVocab(docs, "text", 20)
      docs.select(
          TextAnalysis.detokenize(
            TextAnalysis.tokenize(col("text"), vocab), vocab).as("rt"),
          array_join(Dedup.words(col("text")), " ").as("canon"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rt") === col("canon"), 1L).otherwise(0L))
            .as("n_exact"))
        .select(col("n_docs"), col("n_exact"),
          round((col("n_docs") - col("n_exact")).cast("double") /
            col("n_docs").cast("double"), 6).as("loss_rate"))
    }), Sql(
      """WITH wl AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(l) AS word,
        |         CAST(unnest(range(0, len(l))) AS INTEGER) AS pos
        |  FROM wl),
        |vocab AS (
        |  SELECT word FROM (SELECT word, count(*) AS n FROM words
        |                    GROUP BY 1 ORDER BY n DESC, word LIMIT 20)),
        |rt AS (
        |  SELECT w.doc_id, w.pos,
        |    CASE WHEN v.word IS NOT NULL THEN w.word ELSE '<unk>' END
        |      AS wout
        |  FROM words w LEFT JOIN vocab v USING (word)),
        |r2 AS (
        |  SELECT d.doc_id,
        |    coalesce(string_agg(wout, ' ' ORDER BY pos), '') AS rt
        |  FROM documents d LEFT JOIN rt ON d.doc_id = rt.doc_id
        |  GROUP BY d.doc_id),
        |canon AS (SELECT doc_id, array_to_string(l, ' ') AS canon
        |          FROM wl)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN rt = canon THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  round(CAST(count(*) - sum(CASE WHEN rt = canon THEN 1 ELSE 0
        |                            END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE), 6) AS loss_rate
        |FROM r2 JOIN canon USING (doc_id)""".stripMargin)),

    // score explanation: top-2 weighted-feature contributions of
    // the q_logistic_quality classifier — "why was this doc rejected"
    // score explanation: the q_logistic_quality feature CTE with the
    // additive terms ranked (contribution desc, feature asc); ±0.0
    // canonicalized on BOTH sides so ordering and output agree
    QuerySpec("q_score_explain", ((s, d) => {
      TextExpressions.register(s)
      val w = Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
        "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0)
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.textProfile(col("text")).as("__tp"))
        .select(col("doc_id"),
          TextAnalysis.scoreExplanation(col("__tp"), -2.0, w).as("__e"),
          round(TextAnalysis.logOddsFrom(col("__tp"), -2.0, w), 6)
            .as("log_odds"))
        .select(col("doc_id"),
          element_at(col("__e"), 1).getField("feature")
            .as("top1_feature"),
          round(lit(0.0) - element_at(col("__e"), 1).getField("negc"), 6)
            .as("top1_contrib"),
          element_at(col("__e"), 2).getField("feature")
            .as("top2_feature"),
          round(lit(0.0) - element_at(col("__e"), 2).getField("negc"), 6)
            .as("top2_contrib"),
          col("log_odds"))
        .orderBy("doc_id")
    }), Sql(
      """WITH feat AS (
        |  SELECT doc_id,
        |    len(ws) AS n_words,
        |    CASE WHEN len(ws) > 0
        |      THEN round(list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS mwl,
        |    round((length(text) - length(regexp_replace(text, '[!-/:-@[-`{-~]', '', 'g')))::DOUBLE
        |      / greatest(length(text), 1), 4) AS punct_ratio,
        |    CASE WHEN len(ws) > 0
        |      THEN round(len(list_filter(ws, x -> x IN
        |        ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / len(ws), 4)
        |      ELSE 0.0 END AS stop_ratio
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |        FROM documents)),
        |terms AS (
        |  SELECT doc_id, f, c + 0.0 AS c FROM (
        |    SELECT doc_id,
        |      unnest(['mean_word_len', 'n_words', 'punct_ratio',
        |              'stopword_ratio']) AS f,
        |      unnest([mwl * 0.5, n_words * 0.02, punct_ratio * -8.0,
        |              stop_ratio * 4.0]) AS c
        |    FROM feat)),
        |r AS (SELECT doc_id, f, c,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY c DESC, f) AS rn
        |      FROM terms)
        |SELECT feat.doc_id,
        |  max(CASE WHEN rn = 1 THEN f END) AS top1_feature,
        |  round(max(CASE WHEN rn = 1 THEN c END), 6) AS top1_contrib,
        |  max(CASE WHEN rn = 2 THEN f END) AS top2_feature,
        |  round(max(CASE WHEN rn = 2 THEN c END), 6) AS top2_contrib,
        |  round(mwl * 0.5 + n_words * 0.02 + punct_ratio * -8.0
        |        + stop_ratio * 4.0 + -2.0, 6) AS log_odds
        |FROM feat JOIN r USING (doc_id)
        |GROUP BY feat.doc_id, mwl, n_words, punct_ratio, stop_ratio
        |ORDER BY doc_id""".stripMargin)),

    // Chao1 unseen-vocabulary estimate + Good's coverage: how
    // many word types the corpus has NOT seen — the vocab-planning
    // number a tokenizer sized on a sample needs; one word-count
    // aggregate, single-row summary
    QuerySpec("q_chao1", ((s, d) =>
      TextAnalysis.chao1(t(s, d, "documents"), "text")), Sql(
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS r
        |       FROM tok GROUP BY w),
        |a AS (
        |  SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS s_obs,
        |         CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS f1,
        |         CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS f2
        |  FROM wc)
        |SELECT n_tokens, s_obs, f1, f2,
        |  round(CAST(s_obs AS DOUBLE)
        |        + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
        |          / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
        |  CASE WHEN n_tokens > 0
        |       THEN round(1.0 - CAST(f1 AS DOUBLE)
        |                  / CAST(n_tokens AS DOUBLE), 6) END AS coverage
        |FROM a""".stripMargin)),
  )
}
