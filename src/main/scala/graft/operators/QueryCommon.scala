package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.sources.Tables

/** What two or more query families share, defined once so a fixture,
  * formula or SQL fragment cannot drift between families: the table
  * accessors with their memoized row counts, the oracle-side text
  * normalization and SQL fragments, and the one-row recall report
  * with its DuckDB twin. */
private[operators] object QueryCommon {

  def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  def embs(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  /** Row counts the auto-sized keys derive their cell counts from
    * (IVF family, semantic dedup, IVF-PQ, the cluster-lake keys) —
    * memoized in [[Tables.rowCount]], one scan per JVM. */
  def embCount(s: SparkSession, d: String): Long = Tables.rowCount(s, d, "embeddings")
  def docCount(s: SparkSession, d: String): Long = Tables.rowCount(s, d, "documents")

  /** The one-row recall report every index audit emits — (n_true,
    * n_found, n_missed, recall basis points), all exact integers —
    * over (doc_a, doc_b) pair frames. ONE definition for the MinHash
    * (dedup_recall), SimHash (simhash_recall) and perceptual aHash
    * (mm_recall) audits; [[recallReportSql]] is its oracle twin. */
  def recallReport(exact0: DataFrame, found0: DataFrame): DataFrame = {
    // materialized ONCE: both pair frames feed their count aggregate
    // AND the missed anti-join — un-truncated, the TRUTH side (the
    // audit's brute-force quadratic verify) executed twice per report
    // (r18-opt). Pair-list-sized frames.
    val exact = graft.Materialize.once(exact0)
    val found = graft.Materialize.once(found0)
    val t = exact.agg(count(lit(1)).as("n_true"))
    val f = found.agg(count(lit(1)).as("n_found"))
    val m = exact.join(found, Seq("doc_a", "doc_b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    t.crossJoin(f).crossJoin(m)
      .select(col("n_true"), col("n_found"), col("n_missed"),
        expr("CASE WHEN n_true = 0 THEN CAST(10000 AS BIGINT) " +
          "ELSE (10000 * (n_true - n_missed)) div n_true END").as("recall_bp"))
  }

  /** [[recallReport]]'s DuckDB twin: the report tail over two named
    * pair CTEs with (doc_a, doc_b) columns. */
  def recallReportSql(t: String, f: String): String =
    s"""tr AS (SELECT count(*) AS n_true FROM $t),
       |fo AS (SELECT count(*) AS n_found FROM $f),
       |mi AS (
       |  SELECT count(*) AS n_missed FROM $t
       |  WHERE NOT EXISTS (SELECT 1 FROM $f
       |    WHERE $f.doc_a = $t.doc_a AND $f.doc_b = $t.doc_b)
       |)
       |SELECT n_true, n_found, n_missed,
       |  CASE WHEN n_true = 0 THEN CAST(10000 AS BIGINT)
       |    ELSE CAST((10000 * (n_true - n_missed)) // n_true AS BIGINT) END AS recall_bp
       |FROM tr, fo, mi""".stripMargin

  /** DuckDB oracles. Shared normalization: lower+trim+collapse-ws. */
  val NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  def sqlStr(s: String): String = {
    val sb = new StringBuilder("'")
    s.foreach {
      case '\'' => sb.append("''")
      case c if c < ' ' => sb.append(s"' || chr(${c.toInt}) || '")
      case c => sb.append(c)
    }
    sb.append("'").toString
  }

  /** The [[Text.mojibake]] repair chain over column `text`, as DuckDB
    * SQL — interpolated from the same table the Spark side folds. */
  lazy val MOJ_CHAIN: String =
    Text.mojibake.foldLeft("text") { case (acc, (bad, good)) =>
      s"replace($acc, ${sqlStr(bad)}, ${sqlStr(good)})" }

  def hitsSql(ws: Seq[String]): String = {
    val list = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(str_split($NORM, ' '), t -> list_contains($list, t)))"
  }

  /** Shared DuckDB CTE: trigram shingle postings (doc_id, n_sh, s) —
    * mirrors Dedup.shingles(text, 3). */
  val SH3 =
    s"""toks AS (
       |  SELECT doc_id, str_split($NORM, ' ') AS w FROM documents
       |), sh AS (
       |  SELECT doc_id, n_sh, s FROM (
       |    SELECT doc_id,
       |      list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |        ELSE list_transform(range(1, len(w) - 1),
       |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS ss
       |    FROM toks
       |  ), LATERAL (SELECT len(ss) AS n_sh), unnest(ss) AS t(s)
       |)""".stripMargin

  /** Shared DuckDB CTEs: the near-dup cluster closure of
    * Dedup.clusters(Dedup.jaccardPairs(k = 3, threshold = 0.5)) — the
    * exact-Jaccard pair graph `jp` over [[SH3]], both edge directions,
    * and the recursive min-label `reach` (id, lab). */
  lazy val CLOSURE_CTES: String =
    s"""WITH RECURSIVE $SH3, jp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS inter, a.n_sh AS n_a, b.n_sh AS n_b
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 4, 5
       |  HAVING round(CAST(count(*) AS DOUBLE) / CAST(a.n_sh + b.n_sh - count(*) AS DOUBLE), 6) >= 0.5
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM jp
       |  UNION ALL SELECT doc_b, doc_a FROM jp
       |), reach AS (
       |  SELECT src AS id, src AS lab FROM edges
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
       |)""".stripMargin

  /** Shared DuckDB CTEs for the bigram-LM fluency score (#62): add-one
    * smoothed ln P(w2|w1), decimal-stabilized per-doc mean. Ends with
    * `lmsc` = (doc_id, n_bigrams, avg_logprob). */
  lazy val LM_CTES: String =
    s"""tk AS (
       |  SELECT doc_id,
       |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS w
       |  FROM documents
       |), bg0 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
       |    THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
       |    ELSE [] END) AS bg
       |  FROM tk
       |), b2 AS (
       |  SELECT doc_id, bg, str_split(bg, ' ')[1] AS w1 FROM bg0
       |), c2 AS (
       |  SELECT bg, count(*) AS c2 FROM b2 GROUP BY bg
       |), uni AS (
       |  SELECT unnest(str_split($NORM, ' ')) AS token FROM documents
       |), c1 AS (
       |  SELECT token, count(*) AS c1 FROM uni WHERE token <> '' GROUP BY token
       |), vv AS (
       |  SELECT count(DISTINCT token) AS v FROM uni WHERE token <> ''
       |), terms AS (
       |  SELECT b2.doc_id,
       |    CAST(ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + vv.v AS DOUBLE))
       |      AS DECIMAL(28,12)) AS lp
       |  FROM b2 JOIN c2 USING (bg) JOIN c1 ON c1.token = b2.w1 CROSS JOIN vv
       |), lmsc AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    round(CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_logprob
       |  FROM terms GROUP BY doc_id
       |)""".stripMargin

  /** DuckDB replay of Classify.scores: the corpus_gopher measurement
    * CTEs feed 1e-6-grid features + the rule label (`f`), then
    * `steps` unrolled hard-sigmoid gradient CTEs (per-row residual
    * contributions floored onto the 1e-6 long grid, BIGINT sums —
    * order-free like the Spark side — and weights re-rounded per
    * step), ending in `w{steps}s`. The caller selects the final
    * scores from `f CROSS JOIN w{steps}s`. */
  def classifySql(steps: Int, lr: String): String = {
    val enList = graft.functions.Text.stopwords.head._2
      .map(w => s"'$w'").mkString("[", ", ", "]")
    def z(w: String) =
      s"($w.w0 + $w.w1 * f.x1 + $w.w2 * f.x2 + $w.w3 * f.x3 + $w.w4 * f.x4)"
    def p(w: String) =
      s"least(greatest(0.25 * ${z(w)} + 0.5, CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))"
    val base =
      s"""t AS (
         |  SELECT doc_id,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
         |  FROM documents
         |), bb AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |      i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS bg
         |  FROM t
         |), mm AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n,
         |    CAST(coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS tot_len,
         |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(tk, x -> list_contains($enList, x))) AS BIGINT) AS stop_hits,
         |    CAST(CASE WHEN len(tk) = 0 THEN 0
         |      ELSE list_max(list_transform(list_distinct(tk),
         |        u -> len(list_filter(tk, x -> x = u)))) END AS BIGINT) AS top_n,
         |    CAST(len(bg) AS BIGINT) AS n_bg,
         |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_bg_d
         |  FROM bb
         |), f AS (
         |  SELECT doc_id,
         |    floor((least(n, 200) / 200.0) * 1000000.0 + 0.5) / 1000000.0 AS x1,
         |    floor((n_alpha / greatest(n, 1)) * 1000000.0 + 0.5) / 1000000.0 AS x2,
         |    floor((stop_hits / greatest(n, 1)) * 1000000.0 + 0.5) / 1000000.0 AS x3,
         |    floor(((n_bg - n_bg_d) / greatest(n_bg, 1)) * 1000000.0 + 0.5) / 1000000.0 AS x4,
         |    CASE WHEN (n >= 30 AND n <= 100000)
         |      AND (tot_len >= 3 * n AND tot_len <= 10 * n AND n > 0)
         |      AND (5 * n_alpha >= 4 * n AND n > 0) AND stop_hits >= 2
         |      AND 5 * top_n <= n AND (n_bg - n_bg_d) * 5 <= n_bg
         |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
         |    (n >= 30 AND n <= 100000)
         |      AND (tot_len >= 3 * n AND tot_len <= 10 * n AND n > 0)
         |      AND (5 * n_alpha >= 4 * n AND n > 0) AND stop_hits >= 2
         |      AND 5 * top_n <= n AND (n_bg - n_bg_d) * 5 <= n_bg AS label
         |  FROM mm
         |), w0s AS (
         |  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
         |    CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,
         |    CAST(0.0 AS DOUBLE) AS w4
         |)""".stripMargin
    val stepCtes = (1 to steps).map { k =>
      val prev = s"w${k - 1}s"
      s"""r$k AS (
         |  SELECT f.x1, f.x2, f.x3, f.x4, ${p("w")} - f.y AS r
         |  FROM f CROSS JOIN $prev w
         |), g$k AS (
         |  SELECT CAST(sum(CAST(floor(r * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g0,
         |    CAST(sum(CAST(floor(r * x1 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g1,
         |    CAST(sum(CAST(floor(r * x2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g2,
         |    CAST(sum(CAST(floor(r * x3 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g3,
         |    CAST(sum(CAST(floor(r * x4 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS g4,
         |    count(*) AS nd
         |  FROM r$k
         |), w${k}s AS (
         |  SELECT
         |    floor((w.w0 - $lr * (CAST(g.g0 AS DOUBLE) / (g.nd * 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS w0,
         |    floor((w.w1 - $lr * (CAST(g.g1 AS DOUBLE) / (g.nd * 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS w1,
         |    floor((w.w2 - $lr * (CAST(g.g2 AS DOUBLE) / (g.nd * 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS w2,
         |    floor((w.w3 - $lr * (CAST(g.g3 AS DOUBLE) / (g.nd * 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS w3,
         |    floor((w.w4 - $lr * (CAST(g.g4 AS DOUBLE) / (g.nd * 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS w4
         |  FROM g$k g CROSS JOIN $prev w
         |)""".stripMargin
    }
    (base +: stepCtes).mkString(",\n")
  }

  /** The text_quality score chain (qc0 → qc1 → qcq yielding
    * (doc_id, quality)) WITHOUT the WITH keyword or a trailing ORDER
    * BY, for interpolation into composed oracles (corpus_curriculum).
    * Same formula as the text_quality oracle body. */
  lazy val QUALITY_CTES =
    s"""qc0 AS (
       |  SELECT doc_id, text,
       |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
       |  FROM documents
       |), qc1 AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(tk) AS BIGINT) AS n_tokens,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |           / CAST(length(text) AS DOUBLE) END AS punct_ratio,
       |    CASE WHEN len(tk) = 0 THEN 0.0
       |      ELSE CAST(${hitsSql(Text.stopwords.head._2).replace(s"str_split($NORM, ' ')", "tk")} AS DOUBLE)
       |           / CAST(len(tk) AS DOUBLE) END AS stopword_ratio,
       |    CASE WHEN len(tk) = 0 THEN 0.0
       |      ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
       |           / CAST(len(tk) AS DOUBLE) END AS mean_token_len
       |  FROM qc0
       |), qcq AS (
       |  SELECT doc_id, round(
       |    least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4 +
       |    (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2 +
       |    (CASE WHEN punct_ratio <= 0.1 THEN 1.0 WHEN punct_ratio <= 0.3 THEN 0.5 ELSE 0.0 END) * 0.2 +
       |    (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.0 END) * 0.2, 6) AS quality
       |  FROM qc1
       |)""".stripMargin
}
