package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.SeqTableGen

import Fixtures._

/** The flagship tokenized-sequence validation over [[Fixtures.seqFromDocs]]
  * (`ValidationPass`). */
object SeqQueries {

  val specs: Seq[QuerySpec] = Seq(

    // exact dedup keyed on the TOKEN payload (the engine's north-star
    // input shape — no detokenization needed; xxhash64 hashes the array
    // directly): a doubled corpus must collapse pairwise
    QuerySpec("q_seq_dedup", ((s, d) => {
      val seq = seqFromDocs(s, d).select(col("doc_id"), col("tokens"))
      val doubled = seq.unionByName(
        seq.withColumn("doc_id", concat(lit("dup_"), col("doc_id"))))
      Dedup.exactDuplicates(doubled, "doc_id", "tokens")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_docs")).as("n_docs_total"))
    }), Sql(
      s"""WITH $SeqTableCte,
        |doubled AS (
        |  SELECT did AS doc_id, toks FROM s2
        |  UNION ALL
        |  SELECT 'dup_' || did, toks FROM s2)
        |SELECT count(*) AS n_groups, sum(n_docs)::BIGINT AS n_docs_total FROM (
        |  SELECT toks, count(*) AS n_docs FROM doubled
        |  GROUP BY toks HAVING count(*) > 1)""".stripMargin)),

    // violation locality triage: is each rule's fallout concentrated
    // in one partition (quarantine the shard) or diffuse (fix the
    // rule/contract)? max-share + Herfindahl over (rule, part) counts
    // carried through the REAL validation pass
    QuerySpec("q_rule_locality", ((s, d) => {
      val base = decontamCorpus(s, d)
        .withColumn("part",
          substring(col("doc_id"), 5, 12).cast("long") % 7)
      ValidationPass.ruleLocality(
        ValidationPass.seqViolations(base,
          ValidationPass.seqConstraints(50000, SeqTableGen.Sources),
          carryCols = Seq("part")), "part")
    }), Sql(
      """WITH s AS (
        |  SELECT doc_id AS idn,
        |    CASE WHEN doc_id % 97 = 2 THEN 'R_NTOK_EQ_SIZE'
        |         WHEN doc_id % 97 = 3 THEN 'R_TOKEN_RANGE'
        |         WHEN doc_id % 97 = 4 THEN 'R_ENUM_SOURCE' END AS rule_id,
        |    doc_id % 7 AS part
        |  FROM documents WHERE doc_id % 97 IN (2, 3, 4)),
        |rp AS (SELECT rule_id, part, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT rule_id, CAST(sum(n) AS BIGINT) AS n_violations,
        |  count(*) AS n_partitions,
        |  round(max(n)::DOUBLE / sum(n), 6) AS max_share,
        |  round(sum(n * n)::DOUBLE / (sum(n) * sum(n)), 6) AS hhi
        |FROM rp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-rule violation counts over the oracle-visible derived table —
    // the real ValidationPass.seqViolations path, hash-verified vs DuckDB
    QuerySpec("q_seq_validate", ((s, d) =>
      ValidationPass.seqViolations(seqFromDocs(s, d),
          ValidationPass.seqConstraints(50000, SeqTableGen.Sources))
        .groupBy("rule_id").agg(count(lit(1)).as("n_violations"))
        .orderBy("rule_id")), Sql(
      s"""WITH $SeqTableCte
        |SELECT rule_id, count(*) AS n_violations FROM ($SeqViolationsSql)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // the violation ROWS themselves (doc_id, rule_id, offending_value) —
    // the north-star "violations Dataset byte-identical" contract
    QuerySpec("q_seq_violations", ((s, d) =>
      orderedOnce(
        ValidationPass.seqViolations(seqFromDocs(s, d),
          ValidationPass.seqConstraints(50000, SeqTableGen.Sources)),
        "doc_id", "rule_id", "offending_value")), Sql(
      s"""WITH $SeqTableCte
        |SELECT doc_id, rule_id, offending_value FROM ($SeqViolationsSql)
        |ORDER BY doc_id, rule_id, offending_value""".stripMargin)),

    // row-level quarantine split over the same constraint suite: clean
    // rows pass through byte-identical (checksummed below), dirty rows
    // grouped by their violated-rule combination
    QuerySpec("q_quarantine_clean", ((s, d) => {
      val (clean, _) = ValidationPass.splitValid(seqFromDocs(s, d),
        ValidationPass.seqConstraints(50000, SeqTableGen.Sources))
      clean.agg(count(lit(1)).as("n_clean"),
        sum(col("n_tok")).as("sum_ntok"),
        sum(size(col("tokens"))).as("sum_size"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    }), Sql(
      s"""WITH $SeqTableCte,
        |v AS (SELECT *,
        |  (did IS NULL OR regexp_matches(did, '^\\s*$$'))
        |  OR (NOT regexp_matches(did, '^(?:doc_[0-9]{12})$$'))
        |  OR (n_tok <> len(toks))
        |  OR (NOT (list_max(toks) < 50000 AND list_min(toks) >= 0))
        |  OR (source NOT IN ('web','books','code','wiki')) AS bad
        |  FROM s2)
        |SELECT count(*) AS n_clean, CAST(sum(n_tok) AS BIGINT) AS sum_ntok,
        |       CAST(sum(len(toks)) AS BIGINT) AS sum_size,
        |       min(did) AS min_doc, max(did) AS max_doc
        |FROM v WHERE NOT bad""".stripMargin)),

    QuerySpec("q_quarantine_dirty", ((s, d) => {
      val (_, dirty) = ValidationPass.splitValid(seqFromDocs(s, d),
        ValidationPass.seqConstraints(50000, SeqTableGen.Sources))
      dirty.groupBy(array_join(col("violated_rules"), ",").as("rules"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("rules")
    }), Sql(
      s"""WITH $SeqTableCte,
        |v AS (SELECT array_to_string(list_filter([
        |    CASE WHEN did IS NULL OR regexp_matches(did, '^\\s*$$')
        |         THEN 'R_NONNULL_DOCID' END,
        |    CASE WHEN NOT regexp_matches(did, '^(?:doc_[0-9]{12})$$')
        |         THEN 'R_REGEX_DOCID' END,
        |    CASE WHEN n_tok <> len(toks) THEN 'R_NTOK_EQ_SIZE' END,
        |    CASE WHEN NOT (list_max(toks) < 50000 AND list_min(toks) >= 0)
        |         THEN 'R_TOKEN_RANGE' END,
        |    CASE WHEN source NOT IN ('web','books','code','wiki')
        |         THEN 'R_ENUM_SOURCE' END], x -> x IS NOT NULL), ',') AS rules
        |  FROM s2)
        |SELECT rules, count(*) AS n_rows FROM v WHERE rules <> ''
        |GROUP BY rules ORDER BY rules""".stripMargin)),

    // token-id frequency over the derived sequence table: explode →
    // hash-aggregate (partial agg collapses to ≤vocab rows per partition
    // BEFORE the shuffle, so shuffle = O(partitions × vocab), not
    // O(total tokens) — the sublinear sketch-merge shape; PlanSpec pins
    // partial_count under the Generate)
    QuerySpec("q_token_freq", ((s, d) =>
      seqFromDocs(s, d)
        .select(explode(col("tokens")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("token")).limit(20)), Sql(
      s"""WITH $SeqTableCte
        |SELECT token, count(*) AS n
        |FROM (SELECT unnest(toks) AS token FROM s2)
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // per-source sequence-length profile (tokenized-payload analytics)
    QuerySpec("q_seqlen_by_source", ((s, d) =>
      seqFromDocs(s, d)
        .groupBy("source").agg(
          count(lit(1)).as("n_seqs"),
          round(avg(col("n_tok")), 6).as("avg_ntok"),
          min(col("n_tok")).as("min_ntok"),
          max(col("n_tok")).as("max_ntok"))
        .orderBy("source")), Sql(
      s"""WITH $SeqTableCte
        |SELECT source, count(*) AS n_seqs, round(avg(n_tok), 6) AS avg_ntok,
        |       min(n_tok) AS min_ntok, max(n_tok) AS max_ntok
        |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // cross-field conditional constraints: the validation tier one
    // level above the reference's per-column rules — a rule fires where
    // its antecedent is definitely true and its consequent is not; one
    // sparse filter+explode pass, zero shuffle
    QuerySpec("q_crossfield", ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("id", col("l_orderkey") * 100 + col("l_linenumber"))
      ValidationPass.crossFieldViolations(li, "id", Seq(
        ("R_HIGH_QTY_DISC", col("l_quantity") >= 45,
          col("l_discount") <= 0.05),
        ("R_RETURN_FINISHED", col("l_returnflag") === "R",
          col("l_linestatus") === "F"),
        ("R_TAX_PRICE", col("l_tax") > 0.06,
          col("l_extendedprice") > 20000)))
        .orderBy("id", "rule_id")
    }), Sql(
      """WITH li AS (SELECT l_orderkey * 100 + l_linenumber AS id, *
        |            FROM lineitem)
        |SELECT id, rule_id FROM (
        |  SELECT id, 'R_HIGH_QTY_DISC' AS rule_id FROM li
        |  WHERE COALESCE(l_quantity >= 45, FALSE)
        |    AND NOT COALESCE(l_discount <= 0.05, FALSE)
        |  UNION ALL
        |  SELECT id, 'R_RETURN_FINISHED' FROM li
        |  WHERE COALESCE(l_returnflag = 'R', FALSE)
        |    AND NOT COALESCE(l_linestatus = 'F', FALSE)
        |  UNION ALL
        |  SELECT id, 'R_TAX_PRICE' FROM li
        |  WHERE COALESCE(l_tax > 0.06, FALSE)
        |    AND NOT COALESCE(l_extendedprice > 20000, FALSE))
        |ORDER BY id, rule_id""".stripMargin)),

    // validation-rule co-occurrence: which rules trip TOGETHER
    // (one defect, not two) — distinct (doc, rule) self-join bounded
    // by nRules² per doc, over the flagship seq-constraint violations
    QuerySpec("q_rule_cooccur", ((s, d) =>
      ValidationPass.ruleCooccurrence(
        ValidationPass.seqViolations(seqFromDocs(s, d),
          ValidationPass.seqConstraints(50000, SeqTableGen.Sources)))), Sql(
      s"""WITH $SeqTableCte,
        |v AS ($SeqViolationsSql),
        |d AS (SELECT DISTINCT doc_id, rule_id FROM v)
        |SELECT a.rule_id AS rule_a, b.rule_id AS rule_b,
        |       count(*) AS n_docs
        |FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.rule_id < b.rule_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // per-rule violation triage: counts, distinct docs, bounded
    // min/max exemplars — O(1) state per rule, never a collect_list
    // rule triage: counts + distinct docs + min/max exemplars over the
    // flagship violation rows
    QuerySpec("q_rule_examples", ((s, d) =>
      ValidationPass.ruleSummary(
        ValidationPass.seqViolations(seqFromDocs(s, d),
          ValidationPass.seqConstraints(50000, SeqTableGen.Sources)))), Sql(
      s"""WITH $SeqTableCte,
        |v AS ($SeqViolationsSql)
        |SELECT rule_id, CAST(count(*) AS BIGINT) AS n_violations,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM v GROUP BY rule_id ORDER BY rule_id""".stripMargin)),
  )
}
