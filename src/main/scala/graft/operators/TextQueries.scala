package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryKey
import graft.functions.Text
import QueryCommon.{MOJ_CHAIN, NORM, QUALITY_CTES, docs, hitsSql, sqlStr}

/** Query keys of the text family: line / HTML / license /
  * watermark / code extraction over planted fixtures, language id,
  * normalization, quality signals, tokens and term statistics,
  * redaction, fingerprints and the streaming sketches — each key with
  * its Spark query and the DuckDB SQL that replays it. */
object TextQueries {

  /** text_watermark parameters — aliases of [[graft.operators
    * .Watermark]]'s constants (one definition, interpolated into the
    * oracle SQL so the engines cannot drift). */
  private val WM_GAMMA_PCT = graft.operators.Watermark.GammaPct

  private val WM_Z = graft.operators.Watermark.ZThresh

  private val WM_MIN = graft.operators.Watermark.MinScored

  /** text_cms sketch geometry: 4 seeds × 16^3 sha-derived buckets
    * (128 KiB of counters). Interpolated into the oracle, which
    * replays buckets as hex-prefix STRINGS (injective to the engine's
    * flat indices — identical counters, collisions included). */
  private val CMS_DEPTH = 4

  private val CMS_HEX = 3

  private val CMS_WIDTH = 1 << (CMS_HEX * 4)

  /** The flat (seed, bucket) counter indices of one token:
    * idx_i = i·WIDTH + int(first CMS_HEX hex chars of
    * sha256(i || "|" || token)). */
  private def cmsIndices(token: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    array((0 until CMS_DEPTH).map { i =>
      (lit(i.toLong * CMS_WIDTH) +
        conv(substring(sha2(concat(lit(s"$i|"), token), 256), 1, CMS_HEX),
          16, 10).cast("long"))
    }: _*)

  /** text_normalize planted fixtures (negative doc_ids), shared by the
    * Spark union and the oracle VALUES so the two sides cannot drift:
    * NFD combining marks, the zero-width family, mojibake (incl. a
    * deliberately-unrepaired Ã¯ — the table is the common-corruption
    * list, not a decoder), C0 controls + CRLF/CR, and the
    * scrub-then-compose ordering case (e + ZWNJ + combining acute
    * composes to é only if the scrub runs before NFC). Row -5 pins
    * the à-mojibake boundary: "Ã"+NBSP repairs to à while
    * "Ã "+ASCII-space (legitimate word-final Ã) is left intact. */
  // Row -6 is the Unicode-VERSION tripwire (Kernels.nfc's coupling
  // note): Hangul jamo composition (L+V+T and LV+T -> 각), Cyrillic
  // и+breve -> й and Greek ι+diaeresis+acute -> ΐ (the composition
  // paths beyond Latin), canonical REORDERING under composition
  // (c + acute(ccc 230) + cedilla(ccc 202) must reorder before ç can
  // compose), a composition EXCLUSION (क + nukta must STAY decomposed
  // — U+0958 is excluded), and U+1DFA (combining dot below left,
  // ccc 218, added in Unicode 12.0): an engine whose Unicode data
  // predates it treats the ccc as 0 and skips the reorder after
  // acute — a JDK/utf8proc data-table divergence on any of these
  // classes trips the oracle hash instead of passing silently.
  private val normPlanted: Seq[(Long, String)] = Seq(
    -6L -> ("jamo \u1100\u1161\u11A8 lvt \uAC00\u11A8 cyr \u0438\u0306 " +
      "greek \u03B9\u0308\u0301 reorder c\u0301\u0327 excl \u0915\u093C " +
      "ccc218 e\u0301\u1DFA"),
    -5L -> "IRMÃ DELE voilÃ\u00A0tout",
    -4L -> "ctrlchars\r\nnext\rline e‌́",
    -3L -> "itâ€™s â€œquotedâ€¦ Ã©lan â€” Ã¼ber naÃ¯ve",
    -2L -> "zero​width‌and‍joiners⁠here﻿",
    -1L -> "Café au thé")

  /** html_extract planted fixtures (negative doc_ids), shared by the
    * Spark union and the oracle VALUES: a full page (title/style/
    * script/comment drops, block-tag line structure, list items), the
    * inline-markup word-separation case, entity decoding incl. the
    * double-escape guard (&amp;lt; must decode ONCE to &lt;), and an
    * unclosed-tag fragment. The synthetic corpus is markup-free
    * (identity path), so these carry the whole behavior. */
  private val htmlPlanted: Seq[(Long, String)] = Seq(
    -4L -> ("<html><head><title>Page Title</title>" +
      "<style>p { color: red }</style></head><body>" +
      "<h1>Header One Here</h1><p>first paragraph of text</p>" +
      "<p>second &amp; third &lt;angle&gt; bits</p>" +
      "<script>var x = 1; if (x < 2) { x = 2; }</script>" +
      "<div>closing div content</div>" +
      "<ul><li>item one text</li><li>item two text</li></ul>" +
      "<!-- hidden comment text --></body></html>"),
    -3L -> "a<b>b</b> c&nbsp;d &amp;lt; stays escaped",
    -2L -> "line one<br>line two<br/>line three",
    -1L -> "broken <em unclosed fragment")

  /** DuckDB string literal for `s`: quotes doubled, control chars
    * (<0x20) emitted as chr(n) concatenation so the SQL stays printable
    * (raw newlines inside a literal would also collide with the
    * surrounding stripMargin). */
  /** html_links anchor-extraction contract: double-quoted href,
    * tag-free anchor text — one literal shared by Java regex and RE2
    * (lazy/greedy semantics never diverge because both char classes
    * are negated sets). Link graphs at crawl scale come from exactly
    * this narrow extraction; unquoted/exotic hrefs are the HTML
    * stripper's problem, not the link graph's. */
  private val LINK_RE = """<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>"""

  private val HOST_RE = "^https?://([^/]+)"

  /** html_links planted fixtures (negative doc_ids): multi-link page
    * with absolute/relative targets, a repeated-host page, and a
    * link-free page (must yield no rows). */
  private val linksPlanted: Seq[(Long, String)] = Seq(
    -31L -> ("<html><body><p>intro text</p>" +
      """<a href="https://alpha.example/one" class="x">first link</a>""" +
      """<p>mid</p><a id="r" href="/relative/path">relative link</a>""" +
      """<a href="http://beta.example/two?q=1">second host</a>""" +
      "</body></html>"),
    -32L -> ("""<div><a href="https://alpha.example/a">again alpha</a>""" +
      """ and <a href="https://alpha.example/b">alpha b</a></div>"""),
    -33L -> "<html><body><p>no anchors here at all</p></body></html>")

  /** text_code planted fixtures (negative doc_ids), UNIONed in both
    * engines from these constants: python (keywords + symbols), C
    * (both signals), JSON config (symbols only), prose with light
    * punctuation (under both gates), and prose that mentions
    * keyword-lookalikes ("returns" ≠ \breturn\b; for/if = 2 hits < 3). */
  private val codePlanted: Seq[(Long, String)] = Seq(
    -21L -> ("def main(args):\n    import sys\n    for i in range(10):\n" +
      "        x = i * 2\n    if x > 5:\n        return x\n" +
      "    while x < 100:\n        x = x + 1"),
    -22L -> ("int main() { int x = 0; for (int i = 0; i < 10; i++) " +
      "{ x += i; } return x; }"),
    -23L -> """{ "config": [1, 2, 3], "flag": true, "name": "value" }""",
    -24L -> ("the quick brown fox jumps over the lazy dog and then " +
      "(briefly) pauses to consider the meaning of life; it finds " +
      "none worth keeping."),
    -25L -> "sales rose by 10 percent for the quarter if we exclude returns")

  /** text_license planted fixtures (negative doc_ids): an MIT header
    * (3 phrases), an Apache header (2), a GPL blurb (2), an SPDX tag
    * line (1), a prose trap ("the copyright office reported" — zero
    * phrase hits), and clean prose. */
  private val licensePlanted: Seq[(Long, String)] = Seq(
    -41L -> ("MIT License. Permission is hereby granted, free of " +
      "charge, to any person obtaining a copy of this software, to " +
      "deal in the Software without restriction. THE SOFTWARE IS " +
      "PROVIDED AS IS, WITHOUT WARRANTY OF ANY KIND."),
    -42L -> ("Copyright 2024 the authors. All rights reserved. " +
      "Licensed under the Apache License, Version 2.0; you may not " +
      "use this file except in compliance with the License."),
    -43L -> ("This program is free software: you can redistribute it " +
      "under the terms of the GNU General Public License. There are " +
      "no warranties of merchantability for this program."),
    -44L -> "// SPDX-License-Identifier: BSD-3-Clause",
    -45L -> ("the copyright office reported that registrations rose " +
      "again this year while fees stayed flat"),
    -46L -> "a perfectly ordinary paragraph about the weather today")

  /** text_watermark planted fixtures (negative doc_ids). -51 is a
    * 40-token chain CONSTRUCTED so every transition's md5 draw is
    * green (built offline with the same md5 arithmetic both engines
    * run): T=39, g=39 → z = (39 − 0.25·39)/√(39·0.1875) ≈ 10.82 —
    * detected. -52 is the chain's 8-token prefix: all green, z ≈ 4.58
    * > the threshold, but T=7 < WM_MIN so the length gate suppresses
    * the verdict — the branch that keeps short docs out of the
    * detector. The natural corpus sits near z ∼ N(0,1). */
  private val wmPlanted: Seq[(Long, String)] = Seq(
    -51L -> ("start tok3 tok4 tok7 tok19 tok0 tok6 tok1 tok2 tok10 " +
      "tok3 tok4 tok7 tok19 tok0 tok6 tok1 tok2 tok10 tok3 tok4 " +
      "tok7 tok19 tok0 tok6 tok1 tok2 tok10 tok3 tok4 tok7 tok19 " +
      "tok0 tok6 tok1 tok2 tok10 tok3 tok4 tok7"),
    -52L -> "start tok3 tok4 tok7 tok19 tok0 tok6 tok1")

  /** One planted-fixture frame (doc_id, text) — the union side of the
    * keys whose behavior the markup-free corpus can't exercise
    * (html_extract/html_links/text_code/text_license). */
  private def plantedDocs(s: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, String)]): org.apache.spark.sql.DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, t) =>
        org.apache.spark.sql.Row(id, t) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = false))))

  val keys: Seq[(String, QueryKey)] = Seq(
    // 130: C4-style line-level cleaning (Raffel et al. §2.2 +
    // RefinedWeb duplicate-line removal): per-line min-words and
    // "javascript" rules, page-level lorem-ipsum/brace drops, then
    // cross-document keep-first dedup of normalized lines. The
    // terminal-punctuation rule is OFF for this corpus (synthetic
    // punctuation-free text would lose every line); LinesSpec pins it
    // on against a planted fixture. The oracle hash-checks the
    // reassembled clean text.
    "text_lines" -> QueryKey((s, d) =>
      Lines.cleanLines(docs(s, d)).orderBy(col("doc_id")),
      // 130: the C4 line rules + keep-first duplicate-line removal,
      // reassembled text hash-checked. Keep-first mirrors Spark's
      // min(struct(doc_id, line_idx)) as a row_number window.
      s"""WITH d0 AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE NOT contains(lower(text), 'lorem ipsum')
         |    AND NOT contains(text, '{')
         |), ls AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS ll FROM d0
         |), ln AS (
         |  SELECT doc_id, CAST(i AS INT) AS line_idx,
         |    ll[CAST(i AS INT) + 1] AS line, len(ll) AS n_lines
         |  FROM ls, unnest(range(0, len(ll))) AS u(i)
         |), flt AS (
         |  SELECT doc_id, line_idx, line, n_lines,
         |    regexp_replace(lower(trim(line)), '\\s+', ' ', 'g') AS lnorm
         |  FROM ln
         |  WHERE (CASE WHEN trim(line) = '' THEN 0
         |         ELSE len(string_split_regex(trim(line), ' +')) END) >= 3
         |    AND NOT contains(lower(line), 'javascript')
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY lnorm
         |    ORDER BY doc_id, line_idx) AS rn
         |  FROM flt
         |)
         |SELECT doc_id,
         |  string_agg(line, chr(10) ORDER BY line_idx) AS clean_text,
         |  count(*) AS n_kept,
         |  CAST(max(n_lines) AS BIGINT) AS n_lines
         |FROM rk WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // 138: C4 §2.2's remaining rule — the page BLOCKLIST filter: drop
    // any page containing a blocklisted token (exact normalized-token
    // equality; Lines.badwords is interpolated into the oracle SQL so
    // the engines share one list). Pure narrow map (array HOF over a
    // literal array), zero shuffles at any corpus size; the audit
    // emits per-page hit counts so the drop is observable, and page
    // filtering composes as .where(col("kept")).
    "text_badwords" -> QueryKey((s, d) =>
      Lines.badwordAudit(docs(s, d)).orderBy(col("doc_id")),
      // 138: blocklist page filter — same interpolated token list as
      // the Spark side (exact token equality over NORM tokens).
      {
        val lst = graft.operators.Lines.badwords
          .map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS toks
           |  FROM documents
           |)
           |SELECT doc_id,
           |  CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS BIGINT) AS n_bad,
           |  len(list_filter(toks, x -> list_contains($lst, x))) = 0 AS kept
           |FROM t ORDER BY doc_id""".stripMargin
      }),
    // 138b: license/boilerplate detection — the legal-text complement
    // of the blocklist: pretrain corpora drop or down-weight pages
    // that are license headers, notice files, and rights boilerplate
    // (near-zero training signal, heavily duplicated across repos and
    // sites). Lowercase LITERAL phrase tests (instr, no regex) over
    // one interpolated list; the corpus is license-free so the planted
    // fixtures (MIT / Apache / GPL / SPDX / a "copyright office"
    // prose trap) carry the behavior. Pure narrow map — zero shuffle
    // at any corpus size.
    "text_license" -> QueryKey((s, d) =>
      docs(s, d).select(col("doc_id"), col("text"))
        .unionByName(plantedDocs(s, licensePlanted))
        .select(col("doc_id"),
          Text.licenseHits(col("text")).as("n_phrases"))
        .withColumn("has_license", col("n_phrases") >= 1L)
        .orderBy(col("doc_id")),
      // 138b: same literal phrase list interpolated into both engines;
      // strpos mirrors Spark's instr (1-based, 0 = miss).
      {
        val vals = licensePlanted.map { case (id, t) =>
          s"(CAST($id AS BIGINT), ${sqlStr(t)})" }.mkString(",\n    ")
        val hits = graft.functions.Text.licensePhrases.map(p =>
          s"CASE WHEN strpos(lower(text), ${sqlStr(p)}) > 0 THEN 1 ELSE 0 END")
          .mkString("\n    + ")
        s"""WITH src AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    $vals) pl(doc_id, text)
           |), h AS (
           |  SELECT doc_id, CAST($hits AS BIGINT) AS n_phrases FROM src
           |)
           |SELECT doc_id, n_phrases, n_phrases >= 1 AS has_license
           |FROM h ORDER BY doc_id""".stripMargin
      }),
    // 154: greenlist watermark detection (Kirchenbauer et al. 2023) —
    // the synthetic-text gate a pretrain corpus runs to keep
    // model-generated text out: count sha-derived green transitions,
    // z-test against the γ·T unwatermarked expectation, verdict
    // length-gated at WM_MIN scored transitions. The corpus is
    // natural (z ~ N(0,1)); the planted all-green chain (z ≈ 10.82)
    // and its short prefix (z ≈ 4.58 but under the length gate)
    // carry both verdict branches. Narrow codegen'd map, tokens
    // staged as an attribute ref, zero shuffle.
    "text_watermark" -> QueryKey((s, d) =>
      graft.operators.Watermark.report(
        docs(s, d).select(col("doc_id"), col("text"))
          .unionByName(plantedDocs(s, wmPlanted)))
        .orderBy(col("doc_id")),
      // 154: replay every green draw (md5 on the prev|cur transition),
      // the z arithmetic and the length-gated verdict; constants
      // interpolated from WM_GAMMA_PCT / WM_Z / WM_MIN.
      {
        val vals = wmPlanted.map { case (id, t) =>
          s"(CAST($id AS BIGINT), ${sqlStr(t)})" }.mkString(",\n    ")
        val g = WM_GAMMA_PCT / 100.0
        val v = g * (1.0 - g)
        s"""WITH src AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    $vals) pl(doc_id, text)
           |), t AS (
           |  SELECT doc_id,
           |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
           |  FROM src
           |), gr AS (
           |  SELECT doc_id,
           |    CAST(greatest(len(tk) - 1, 0) AS BIGINT) AS n_scored,
           |    CAST(CASE WHEN len(tk) >= 2 THEN list_sum(list_transform(range(2, len(tk) + 1),
           |      i -> CASE WHEN CAST(('0x' || substr(md5('wm:' || tk[CAST(i - 1 AS INT)] || '|' || tk[CAST(i AS INT)]), 1, 8))::UBIGINT AS BIGINT) % 100 < $WM_GAMMA_PCT
           |        THEN 1 ELSE 0 END))
           |    ELSE 0 END AS BIGINT) AS n_green
           |  FROM t
           |), zr AS (
           |  SELECT doc_id, n_scored, n_green,
           |    CASE WHEN n_scored > 0
           |      THEN round(CAST(n_green AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
           |      ELSE 0.0 END AS green_ratio,
           |    CASE WHEN n_scored > 0
           |      THEN round((CAST(n_green AS DOUBLE) - $g * CAST(n_scored AS DOUBLE))
           |        / sqrt(CAST(n_scored AS DOUBLE) * $v), 6)
           |      ELSE 0.0 END AS z
           |  FROM gr
           |)
           |SELECT doc_id, n_scored, n_green, green_ratio, z,
           |  (n_scored >= $WM_MIN AND z > $WM_Z) AS watermarked
           |FROM zr ORDER BY doc_id""".stripMargin
      }),
    // 139: HTML/markup stripping AHEAD of the text stack — crawl pages
    // arrive as HTML; this reduces them to the plain text every
    // downstream stage (fixText, text_lines, dedup_paragraph,
    // fingerprints) assumes. Script/style/comment spans drop, block
    // tags become newlines (preserving line/paragraph structure),
    // inline tags become spaces, the fixed entity table decodes
    // (&amp; last — double-escape safe), whitespace collapses. All
    // regexp/replace built-ins in the Java∩RE2 subset; the corpus is
    // markup-free so the planted pages carry the behavior, UNIONed in
    // both engines from the same interpolated constants. Pure narrow
    // map — zero shuffles at any corpus size.
    "html_extract" -> QueryKey((s, d) => {
      docs(s, d).select(col("doc_id"), col("text"))
        .unionByName(plantedDocs(s, htmlPlanted))
        .select(col("doc_id"), col("text"),
          graft.functions.Html.extractText(col("text")).as("text_plain"))
        .select(col("doc_id"), col("text_plain"),
          (col("text_plain") =!= col("text")).as("changed"))
        .orderBy(col("doc_id"))
    },
      // 139: the same strip/decode chain, generated from the SAME
      // constants (dropRes / blockTagRe / anyTagRe / entities) the Spark
      // side folds — one definition, two engines.
      {
        import graft.functions.Html
        val vals = htmlPlanted.map { case (id, t) =>
          s"(CAST($id AS BIGINT), ${sqlStr(t)})" }.mkString(",\n    ")
        def rr(acc: String, re: String, repl: String) =
          s"regexp_replace($acc, ${sqlStr(re)}, $repl, 'g')"
        val dropped = Html.dropRes.foldLeft("text")((a, re) => rr(a, re, "''"))
        val blocks = rr(dropped, Html.blockTagRe, "chr(10)")
        val untagged = rr(blocks, Html.anyTagRe, "' '")
        val decoded = Html.entities.foldLeft(untagged) {
          case (a, (e, v)) => s"replace($a, ${sqlStr(e)}, ${sqlStr(v)})" }
        val sp = rr(decoded, "[ \\t]+", "' '")
        val nl = rr(sp, " ?\\n ?", "chr(10)")
        val para = rr(nl, "\\n{3,}", "chr(10) || chr(10)")
        val out = s"trim(${rr(para, "^\\n+|\\n+$", "''")})"
        s"""WITH src AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES $vals) AS v(doc_id, text)
           |)
           |SELECT doc_id, $out AS text_plain, $out <> text AS changed
           |FROM src ORDER BY doc_id""".stripMargin
      }),
    // 132: first-occurrence novelty scoring — per doc, the fraction of
    // its distinct 8-grams whose corpus-FIRST occurrence (min doc_id,
    // the ingest-order convention) is this doc: the marginal-content
    // measure dedup-aware sampling weighs by (a doc that is 90%
    // already-seen n-grams contributes 10% new signal regardless of
    // near-dup verdicts). Scale shape: one (doc_id, gram) distinct,
    // one min-owner aggregation (map-side combined — a boilerplate
    // gram in 10⁶ docs produces one partial per map task), one join
    // on the gram (hot grams are linear output; AQE skew split
    // applies). Docs shorter than 8 tokens have no grams and score
    // novelty 1.0 — no evidence of duplication.
    "corpus_novelty" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val grams = doc
        .select(col("doc_id"), Text.tokensOrEmpty(col("text")).as("tk"))
        .select(col("doc_id"), explode(Text.ngramsOf(col("tk"), 8)).as("g"))
        .distinct()
      val owner = grams.groupBy(col("g")).agg(min(col("doc_id")).as("owner"))
      val per = grams.join(owner, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("doc_id") === col("owner"), 1L).otherwise(0L)).as("n_novel"))
      doc.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(coalesce(col("n_grams"), lit(0L)) > 0,
            round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6))
            .otherwise(lit(1.0)).as("novelty"))
        .orderBy(col("doc_id"))
    },
      // 132: distinct 8-grams, min-doc_id owner, per-doc novel fraction;
      // sub-8-token docs have no grams and score 1.0 like the Spark side
      s"""WITH tkn AS (
         |  SELECT doc_id,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS w
         |  FROM documents
         |), g AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(
         |      CASE WHEN len(w) < 8 THEN CAST([] AS VARCHAR[])
         |      ELSE list_transform(range(1, len(w) - 6),
         |        i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||
         |             w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]) END) AS g
         |    FROM tkn)
         |), own AS (
         |  SELECT g, min(doc_id) AS owner FROM g GROUP BY g
         |), per AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) AS n_novel
         |  FROM g JOIN own USING (g) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN coalesce(n_grams, 0) > 0
         |    THEN round(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
         |    ELSE 1.0 END AS novelty
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    // 31: language ID. Stopword-hit counts staged as attribute refs
    // (argmax over columns, not over duplicated expression trees).
    "text_langid" -> QueryKey((s, d) => {
      val hits = Text.stopwords.map { case (lang, ws) =>
        Text.stopwordHits(col("text"), ws).as(s"h_$lang") }
      val staged = docs(s, d).select(col("doc_id") +: col("lang") +: hits: _*)
      val (bestLang, bestScore) = Text.stopwords
        .map { case (lang, _) => (lit(lang), col(s"h_$lang")) }
        .reduceLeft[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] {
          case ((bl, bs), (l, sc)) => (when(sc > bs, l).otherwise(bl), greatest(bs, sc))
        }
      staged.select(col("doc_id"), col("lang").as("lang_label"),
        when(bestScore > 0, bestLang).otherwise(lit("und")).as("lang_detected"))
        .orderBy(col("doc_id"))
    },
      {
        val scoreCols = Text.stopwords.map { case (lang, ws) => s"${hitsSql(ws)} AS h_$lang" }
        // argmax with earlier-language tie preference, mirroring Spark fold
        val langs = Text.stopwords.map(_._1)
        val bestExpr = langs.tail.foldLeft((s"'${langs.head}'", s"h_${langs.head}")) {
          case ((bl, bs), l) =>
            (s"CASE WHEN h_$l > $bs THEN '$l' ELSE $bl END",
              s"greatest($bs, h_$l)")
        }
        s"""WITH staged AS (
           |  SELECT doc_id, lang, ${scoreCols.mkString(", ")} FROM documents
           |)
           |SELECT doc_id, lang AS lang_label,
           |  CASE WHEN ${bestExpr._2} > 0 THEN ${bestExpr._1} ELSE 'und' END AS lang_detected
           |FROM staged ORDER BY doc_id""".stripMargin
      }),
    // 137: char-trigram naive-Bayes language ID — the fastText-shaped
    // upgrade over text_langid's stopword heuristic (LangId's scaladoc
    // has the model + scale shape; LangIdSpec shows it classifying
    // short stopword-free docs the heuristic calls "und"). Trained on
    // even doc_ids, so odd-doc predictions are out-of-sample; on THIS
    // corpus the lang label is independent of the synthetic text, so
    // the oracle validates the exact integer-grid NB arithmetic, not
    // detection quality — the spec's planted multilingual fixture
    // validates that.
    "text_langid2" -> QueryKey((s, d) =>
      LangId.langIdTrigram(docs(s, d)).orderBy(col("doc_id")),
      // 137: the same trigram-NB replay — salted-md5 buckets, add-one
      // smoothing, 1e-6-grid BIGINT ln sums, argmax via row_number with
      // (score DESC, lang) order, und for trigram-less docs.
      s"""WITH nrm AS (
         |  SELECT doc_id, lang, $NORM AS s FROM documents
         |), tri AS (
         |  SELECT doc_id, lang, unnest(list_transform(range(1, length(s) - 1),
         |    i -> substr(s, CAST(i AS INT), 3))) AS t
         |  FROM nrm WHERE length(s) >= 3
         |), tb AS (
         |  SELECT doc_id, lang,
         |    CAST(('0x' || substr(md5('lid:' || t), 1, 8))::UBIGINT
         |      % ${LangId.defaultBuckets} AS BIGINT) AS b
         |  FROM tri
         |), prof AS (
         |  SELECT lang, b, count(*) AS c FROM tb WHERE doc_id % 2 = 0 GROUP BY 1, 2
         |), w AS (
         |  SELECT lang, b,
         |    CAST(round(round(ln(CAST(c AS DOUBLE) + 1.0), 6) * 1000000) AS BIGINT) AS w
         |  FROM prof
         |), prior AS (
         |  SELECT lang AS cand,
         |    CAST(round(round(ln(CAST(count(*) AS DOUBLE)), 6) * 1000000) AS BIGINT) AS prior
         |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
         |), base AS (
         |  SELECT lang AS cand,
         |    CAST(round(round(ln(CAST(sum(c) AS DOUBLE) + ${LangId.defaultBuckets}.0), 6)
         |      * 1000000) AS BIGINT) AS base,
         |    prior
         |  FROM prof JOIN prior ON prior.cand = prof.lang GROUP BY 1, 3
         |), dm AS (
         |  SELECT doc_id, b, count(*) AS m FROM tb GROUP BY 1, 2
         |), dn AS (
         |  SELECT doc_id, count(*) AS n_tri FROM tb GROUP BY 1
         |), hits AS (
         |  SELECT dm.doc_id, w.lang, sum(dm.m * w.w) AS hit
         |  FROM dm JOIN w USING (b) GROUP BY 1, 2
         |), sc AS (
         |  SELECT dn.doc_id, base.cand, dn.n_tri,
         |    base.prior + coalesce(hits.hit, 0) - dn.n_tri * base.base AS score
         |  FROM dn CROSS JOIN base
         |  LEFT JOIN hits ON hits.doc_id = dn.doc_id AND hits.lang = base.cand
         |), win AS (
         |  SELECT doc_id, cand, n_tri FROM (
         |    SELECT doc_id, cand, n_tri,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
         |    FROM sc) WHERE rn = 1
         |)
         |SELECT d.doc_id, d.lang AS lang_label,
         |  coalesce(win.cand, 'und') AS lang_tri,
         |  coalesce(win.n_tri, 0) AS n_tri
         |FROM documents d LEFT JOIN win ON win.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    // 136: Unicode/encoding normalization — the curation stage that
    // runs BEFORE fingerprinting/dedup keying so NFD-vs-NFC forms,
    // zero-width characters, line endings, and mojibake unify onto one
    // dedup key (Text.fixText's scaladoc documents the composition
    // point ahead of text_fingerprint / dedup_exact /
    // dedup_paragraph). The synthetic corpus is ASCII (identity path),
    // so the pipeline is exercised by planted rows UNIONed in BOTH
    // engines from the same interpolated constants: NFD marks,
    // zero-width family, mojibake, controls + CRLF, and the
    // scrub-then-compose ordering case. Pure narrow map (one custom
    // codegen'd NFC scalar + built-ins) — zero shuffles at any corpus
    // size; the oracle hash-checks the normalized text directly
    // against DuckDB's utf8proc nfc_normalize.
    "text_normalize" -> QueryKey((s, d) => {
      val planted = s.createDataFrame(
        java.util.Arrays.asList(normPlanted.map { case (id, t) =>
          org.apache.spark.sql.Row(id, t) }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType, nullable = false))))
      docs(s, d).select(col("doc_id"), col("text")).unionByName(planted)
        .select(col("doc_id"), col("text"),
          Text.fixText(col("text")).as("text_norm"),
          Text.repairMojibake(col("text")).as("moj"))
        .select(col("doc_id"), col("text_norm"),
          (col("text_norm") =!= col("text")).as("changed"),
          (col("moj") =!= col("text")).as("mojibake_fixed"))
        .orderBy(col("doc_id"))
    },
      // 136: same planted fixtures (sqlStr-interpolated from
      // normPlanted), same repair chain (MOJ_CHAIN from Text.mojibake),
      // same scrub class, with DuckDB's utf8proc nfc_normalize standing
      // in for the JDK normalizer — both implement UAX #15 NFC, which
      // the hash compare proves agree on every row.
      {
        val vals = normPlanted.map { case (id, t) =>
          s"(CAST($id AS BIGINT), ${sqlStr(t)})" }.mkString(",\n    ")
        s"""WITH src AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES $vals) AS v(doc_id, text)
           |), moj AS (
           |  SELECT doc_id, text, $MOJ_CHAIN AS m FROM src
           |), fx AS (
           |  SELECT doc_id, text, m,
           |    nfc_normalize(regexp_replace(
           |      replace(replace(m, chr(13) || chr(10), chr(10)), chr(13), chr(10)),
           |      '${Text.scrubRe}', '', 'g')) AS text_norm
           |  FROM moj
           |)
           |SELECT doc_id, text_norm, text_norm <> text AS changed,
           |  m <> text AS mojibake_fixed
           |FROM fx ORDER BY doc_id""".stripMargin
      }),
    // 32: quality scoring
    "text_quality" -> QueryKey((s, d) => docs(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      Text.tokenCount(col("text")).cast("long").as("n_tokens"),
      round(Text.meanTokenLen(col("text")), 6).as("mean_token_len"),
      round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
      round(Text.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      Text.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id")),
      // 32: the SAME quality chain the corpus_curriculum oracle
      // interpolates (QUALITY_CTES — one copy of the formula per engine)
      s"""WITH $QUALITY_CTES
         |SELECT qc1.doc_id, qc1.n_chars, qc1.n_tokens,
         |  round(qc1.mean_token_len, 6) AS mean_token_len,
         |  round(qc1.punct_ratio, 6) AS punct_ratio,
         |  round(qc1.stopword_ratio, 6) AS stopword_ratio,
         |  qcq.quality
         |FROM qc1 JOIN qcq USING (doc_id) ORDER BY qc1.doc_id""".stripMargin),
    // 139b: HTML link extraction — the crawl-pipeline step BEFORE
    // html_extract strips markup: (url, anchor, host) edges per page,
    // the raw material of link graphs, anchor-text signals, and
    // host-level dedup/spam scoring. Two regexp_extract_all passes
    // (group 1 = href, group 2 = anchor) zipped positionally, host
    // from one more extract; narrow map + posexplode, zero joins.
    // The corpus is markup-free so the planted pages carry the
    // behavior (incl. a relative URL -> empty host and a zero-link
    // page that must yield no rows).
    "html_links" -> QueryKey((s, d) => {
      docs(s, d).select(col("doc_id"), col("text"))
        .unionByName(plantedDocs(s, linksPlanted))
        .select(col("doc_id"),
          regexp_extract_all(col("text"), lit(LINK_RE), lit(1)).as("urls"),
          regexp_extract_all(col("text"), lit(LINK_RE), lit(2)).as("anchors"))
        .select(col("doc_id"),
          posexplode(arrays_zip(col("urls"), col("anchors"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("link_pos"),
          col("col.urls").as("url"), col("col.anchors").as("anchor"))
        .withColumn("host", regexp_extract(col("url"), HOST_RE, 1))
        .orderBy(col("doc_id"), col("link_pos"))
    },
      // 139b: both group extractions replayed; positional zip via a
      // bounded range join (planted pages hold < 50 links); planted
      // rows interpolated from the same linksPlanted constants
      {
        val vals = linksPlanted.map { case (id, t) =>
          s"(CAST($id AS BIGINT), ${sqlStr(t)})" }.mkString(",\n    ")
        s"""WITH src AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    $vals) pl(doc_id, text)
           |), ex AS (
           |  SELECT doc_id,
           |    regexp_extract_all(text, ${sqlStr(LINK_RE)}, 1) AS urls,
           |    regexp_extract_all(text, ${sqlStr(LINK_RE)}, 2) AS anchors
           |  FROM src
           |)
           |SELECT doc_id, CAST(i AS BIGINT) AS link_pos,
           |  urls[i] AS url, anchors[i] AS anchor,
           |  regexp_extract(urls[i], ${sqlStr(HOST_RE)}, 1) AS host
           |FROM ex CROSS JOIN range(1, 50) r(i)
           |WHERE i <= len(urls)
           |ORDER BY doc_id, link_pos""".stripMargin
      }),
    // 149b: code-vs-prose detection — the domain-routing signal a
    // pretrain mixer needs (code gets its own budget/tokenizer
    // treatment): structural-symbol mass + word-bounded keyword hits
    // over the RAW text (code is case/layout-sensitive), gated in
    // pure integer arithmetic. The corpus is prose, so the planted
    // fixtures (python / C / JSON / two prose traps) carry the
    // behavior, UNIONed in both engines from the same constants.
    // Narrow two-regexp map — zero shuffle at any corpus size.
    "text_code" -> QueryKey((s, d) => {
      docs(s, d).select(col("doc_id"), col("text"))
        .unionByName(plantedDocs(s, codePlanted))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          Text.codeSymbolCount(col("text")).as("n_symbols"),
          Text.codeKeywordHits(col("text")).as("kw_hits"))
        .withColumn("is_code",
          Text.isCode(col("n_chars"), col("n_symbols"), col("kw_hits")))
        .orderBy(col("doc_id"))
    },
      // 149b: the two regexp signals + integer gate replayed; planted
      // rows interpolated from the same codePlanted constants
      {
        val vals = codePlanted.map { case (id, t) =>
          s"(CAST($id AS BIGINT), ${sqlStr(t)})" }.mkString(",\n    ")
        s"""WITH src AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    $vals) pl(doc_id, text)
           |), m AS (
           |  SELECT doc_id,
           |    CAST(length(text) AS BIGINT) AS n_chars,
           |    CAST(length(text) - length(regexp_replace(text,
           |      ${sqlStr(graft.functions.Text.codeSymbolRe)}, '', 'g')) AS BIGINT) AS n_symbols,
           |    CAST(len(regexp_extract_all(text,
           |      ${sqlStr(graft.functions.Text.codeKeywordRe)})) AS BIGINT) AS kw_hits
           |  FROM src
           |)
           |SELECT doc_id, n_chars, n_symbols, kw_hits,
           |  ((n_symbols * 25 >= n_chars AND n_chars > 0) OR kw_hits >= 3) AS is_code
           |FROM m ORDER BY doc_id""".stripMargin
      }),
    // 33: token counting, three ways
    "text_tokens" -> QueryKey((s, d) => docs(s, d).select(
      col("doc_id"),
      Text.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
      Text.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
      Text.estTokensByChars(col("text")).as("n_est_tokens"))
      .orderBy(col("doc_id")),
      s"""SELECT doc_id,
         |  CAST(CASE WHEN $NORM = '' THEN 0 ELSE len(str_split($NORM, ' ')) END AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS n_est_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),
    // 55: repetition signals (Gopher-class quality filters) — duplicate
    // token / most-frequent-token / duplicate-bigram fractions, all
    // narrow per-document array math (no shuffle at any corpus size)
    // 135: token-distribution entropy — the information-density
    // quality signal (low entropy = keyword stuffing / boilerplate /
    // repetition; complements text_repetition's ratio family): H =
    // Σ (c/n)·ln(n/c) over distinct tokens. Each term floors onto the
    // 1e-6 grid and the per-doc sum runs in BIGINT (ORDER-FREE — the
    // drift-PSI / lmscore discipline, so double-assoc order can't
    // diverge the engines); single-token docs get exactly 0, empty
    // docs 0 with zero counts. Two partial-agg shuffles, corpus-linear.
    "text_entropy" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val cnt = doc.select(col("doc_id"),
          explode(Text.tokensOrEmpty(col("text"))).as("tk"))
        .where(col("tk") =!= "")
        .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
      val per = cnt.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
      val terms = cnt.join(per, Seq("doc_id"))
        .select(col("doc_id"), col("n"), col("n_distinct"),
          floor((col("c").cast("double") / col("n").cast("double")) *
            log(col("n").cast("double") / col("c").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long").as("t"))
        .groupBy(col("doc_id"), col("n"), col("n_distinct"))
        .agg(sum(col("t")).as("ts"))
      doc.select(col("doc_id")).join(terms, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_tokens"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          round(coalesce(col("ts"), lit(0L)).cast("double") / lit(1000000.0), 6)
            .as("entropy"))
        .orderBy(col("doc_id"))
    },
      // 135: same (c/n)·ln(n/c) per distinct token, floored onto the
      // 1e-6 grid, summed as BIGINT — order-free on both engines
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(str_split($NORM, ' ')) AS tk FROM documents
         |), cnt AS (
         |  SELECT doc_id, tk, count(*) AS c FROM tok WHERE tk <> ''
         |  GROUP BY doc_id, tk
         |), per AS (
         |  SELECT doc_id, sum(c) AS n, count(*) AS n_distinct FROM cnt
         |  GROUP BY doc_id
         |), terms AS (
         |  SELECT cnt.doc_id, per.n, per.n_distinct,
         |    CAST(sum(CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000.0 + 0.5)
         |      AS BIGINT)) AS BIGINT) AS ts
         |  FROM cnt JOIN per USING (doc_id)
         |  GROUP BY cnt.doc_id, per.n, per.n_distinct
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(t.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(t.n_distinct, 0) AS BIGINT) AS n_distinct,
         |  round(CAST(coalesce(t.ts, 0) AS DOUBLE) / 1000000.0, 6) AS entropy
         |FROM documents d LEFT JOIN terms t USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    "text_repetition" -> QueryKey((s, d) => {
      // r19-opt: the bigram ARRAY (a transform HOF) is never needed —
      // its size is max(n−1, 0) and its distinct count is the native
      // 2-shingle kernel's set size (n ≥ 2; the n < 2 list is empty),
      // so dup_bigram_ratio divides the same two ints HOF-free.
      val staged = docs(s, d)
        .select(col("doc_id"), col("text"),
          Text.tokensOrEmpty(col("text")).as("tk"))
      val nBg = greatest(size(col("tk")) - 1, lit(0))
      val nBgD = when(size(col("tk")) >= 2,
        size(graft.expressions.native.shingles(col("text"), 2)))
        .otherwise(lit(0))
      staged.select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
        round(Text.dupRatio(col("tk")), 6).as("dup_token_ratio"),
        round(when(size(col("tk")) === 0, 0.0).otherwise(
          Text.topTokenCount(col("tk")).cast("double") / size(col("tk")).cast("double")), 6)
          .as("top_token_ratio"),
        round(when(nBg === 0, 0.0).otherwise(
          lit(1.0) - nBgD.cast("double") / nBg.cast("double")), 6)
          .as("dup_bigram_ratio"))
        .orderBy(col("doc_id"))
    },
      // 55: same token/bigram array math, list-op mirror
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
         |  FROM documents
         |), b AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |      i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS bg
         |  FROM t
         |)
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |  round(CASE WHEN len(tk) = 0 THEN 0.0
         |    ELSE 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)
         |  END, 6) AS dup_token_ratio,
         |  round(CASE WHEN len(tk) = 0 THEN 0.0
         |    ELSE CAST(list_max(list_transform(list_distinct(tk),
         |        u -> len(list_filter(tk, x -> x = u)))) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE)
         |  END, 6) AS top_token_ratio,
         |  round(CASE WHEN len(bg) = 0 THEN 0.0
         |    ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE)
         |  END, 6) AS dup_bigram_ratio
         |FROM b ORDER BY doc_id""".stripMargin),
    // 56: corpus vocabulary build — the tokenizer-training primitive:
    // one partial-aggregated shuffle on token, deterministic top-100
    // by (count desc, token). TakeOrdered, not a global sort.
    "text_vocab" -> QueryKey((s, d) =>
      docs(s, d).select(explode(Text.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100),
      // 56: plain wordcount, deterministic top-100
      s"""WITH t AS (
         |  SELECT unnest(str_split($NORM, ' ')) AS token FROM documents
         |)
         |SELECT token, count(*) AS n FROM t WHERE token <> ''
         |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin),
    // 57: tf-idf top terms per document — tf from one (doc,token)
    // shuffle (doc length and document frequency both derive from it,
    // reusing the aggregate), ln-idf, top-3 per doc by ranked window
    "text_tfidf" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val toks = doc.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
      // materialize the (doc, token, tf) aggregate ONCE: it feeds three
      // consumers (the score join, doc length, document frequency) and
      // exchange reuse does NOT fire across these branches — the
      // un-checkpointed form re-ran the tokenize+explode+aggregate
      // subtree per consumer (8 parquet scans in the executed plan;
      // same recompute class as graph_triangles). tf is Σtokens-sized:
      // at 100 TB set spark.graft.materialize=reliable (Materialize).
      val tf = graft.Materialize.once(
        toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val ndocs = doc.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dl, "doc_id").join(dfreq, "token")
        .crossJoin(broadcast(ndocs))
        .select(col("doc_id"), col("token"),
          round((col("tf").cast("double") *
              log(col("n_docs").cast("double") / col("df").cast("double"))) /
            col("dl").cast("double"), 6).as("tfidf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("token"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    },
      // 57: same tf·ln(N/df)/len arithmetic, same parenthesization
      s"""WITH t AS (
         |  SELECT doc_id, unnest(str_split($NORM, ' ')) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
         |), dfq AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY 1
         |), nd AS (
         |  SELECT count(*) AS n_docs FROM documents
         |), scored AS (
         |  SELECT tf.doc_id, tf.token,
         |    round((CAST(tf.tf AS DOUBLE) *
         |        ln(CAST(nd.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE))) /
         |      CAST(dl.dl AS DOUBLE), 6) AS tfidf
         |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN nd
         |), ranked AS (
         |  SELECT doc_id, token, tfidf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
         |  FROM scored
         |)
         |SELECT doc_id, CAST(rk AS INT) AS rk, token, tfidf FROM ranked
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    // 85: Okapi BM25 per-(doc, term) index weights, top-3 per doc —
    // the ranked-retrieval complement of text_tfidf (what a search /
    // retrieval-augmentation index stores). Same one-aggregate shape:
    // tf feeds dl, df AND the score join, materialized once; idf is
    // the Lucene-style ln((N - df + 0.5)/(df + 0.5) + 1) (always
    // positive); every double expression is mirrored operation-for-
    // operation in the oracle, so round(.,6) hash-checks.
    "text_bm25" -> QueryKey((s, d) => {
      val doc = docs(s, d)
      val toks = doc.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
      val tf = graft.Materialize.once(
        toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      // one-row (n_docs, avgdl): avgdl computed ONCE as a value so the
      // oracle's CTE reproduces the identical double
      val stats = doc.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
        .select(col("n_docs"),
          (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))
      val tfD = col("tf").cast("double")
      val dfD = col("df").cast("double")
      val idf = log((col("n_docs").cast("double") - dfD + 0.5) / (dfD + 0.5) + 1.0)
      val denom = tfD + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl").cast("double") / col("avgdl"))
      val scored = tf.join(dl, "doc_id").join(dfreq, "token")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("token"),
          round(idf * (tfD * 2.2) / denom, 6).as("bm25"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("bm25").desc, col("token"))
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("token"), col("bm25"))
        .orderBy(col("doc_id"), col("rk"))
    },
      // 85: the same tf/dl/df aggregates, BM25 formula mirrored
      // operation-for-operation (k1=1.2, b=0.75, Lucene idf)
      s"""WITH t AS (
         |  SELECT doc_id, unnest(str_split($NORM, ' ')) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
         |), dfq AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY 1
         |), stats AS (
         |  SELECT (SELECT count(*) FROM documents) AS n_docs,
         |    CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
         |      / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl
         |), scored AS (
         |  SELECT tf.doc_id, tf.token,
         |    round(ln((CAST(stats.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
         |          / (CAST(dfq.df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(tf.tf AS DOUBLE) * 2.2)
         |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
         |          + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)), 6) AS bm25
         |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN stats
         |), ranked AS (
         |  SELECT doc_id, token, bm25,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, token) AS rk
         |  FROM scored
         |)
         |SELECT doc_id, CAST(rk AS INT) AS rk, token, bm25 FROM ranked
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    // 40: PII redaction pass — per-doc match counts + fingerprint of
    // the scrubbed text (proves the replacement itself, not just the
    // counts, agrees across engines)
    "text_redact" -> QueryKey((s, d) => docs(s, d).select(
      col("doc_id"),
      Text.countMatches(col("text"), Text.emailRe).cast("long").as("n_emails"),
      Text.countMatches(col("text"), Text.ipv4Re).cast("long").as("n_ipv4"),
      Text.countMatches(col("text"), Text.longDigitsRe).cast("long").as("n_digit_runs"),
      sha2(Text.redactPii(col("text")), 256).as("fp_redacted"))
      .orderBy(col("doc_id")),
      {
        val (em, ip, dg) = (Text.emailRe, Text.ipv4Re, Text.longDigitsRe)
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ipv4,
           |  CAST(len(regexp_extract_all(text, '$dg')) AS BIGINT) AS n_digit_runs,
           |  sha256(regexp_replace(regexp_replace(regexp_replace(text,
           |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$dg', '<NUM>', 'g')) AS fp_redacted
           |FROM documents ORDER BY doc_id""".stripMargin
      }),
    // 34: document fingerprints (sha-256 full + 64-bit prefix;
    // xxhash64 fingerprint64 is spec-pinned, not oracle-able)
    "text_fingerprint" -> QueryKey((s, d) => docs(s, d).select(
      col("doc_id"),
      Text.fingerprint(col("text")).as("fp_sha256"),
      substring(Text.fingerprint(col("text")), 1, 16).as("fp_prefix"))
      .orderBy(col("doc_id")),
      s"""SELECT doc_id, sha256($NORM) AS fp_sha256,
         |  substr(sha256($NORM), 1, 16) AS fp_prefix
         |FROM documents ORDER BY doc_id""".stripMargin),
    // 98: per-source dataset-card report — the reporting query every
    // corpus release ships: doc/token masses, language spread, exact
    // mean/median length, and the count of docs whose normalized text
    // duplicates ANY other doc corpus-wide. One fingerprint-partition
    // window (shuffle on the normalized text — at 100 TB swap the
    // partition key for sha2(normalize) to bound key width; same
    // grouping) + one per-source partial-agg shuffle of |sources| rows.
    // 113: bounded-memory heavy hitters — the native Misra–Gries
    // TypedImperativeAggregate (expressions.SpaceSavingAgg, k=8 slots)
    // over the token stream, hash-checked via its GUARANTEES against
    // the exact counts (the q_approx pattern: the kept set is
    // layout-dependent, the guarantees are not): every top-10 token
    // gets bound_ok (estimate is a lower bound within n/(k+1)) and
    // presence_ok (any token over the n/(k+1) threshold is in the
    // summary). At 100 TB the summary is k slots per partition merged
    // map-side — the exact groupBy beside it is the test-scale
    // verifier, not the production path.
    // 113c: count-min-sketch frequency estimates — the MERGEABLE
    // fixed-size complement of #113's Misra–Gries summary (MG keeps
    // WHICH tokens are heavy; CM answers "how often is token t" for
    // any t from constant state). The sketch is the native CmsAgg
    // (4 seeds × 4096 sha-derived buckets = 128 KiB, map-side-added
    // partials, broadcast to the probe); probes are the exact top-10
    // tokens, emitting exact vs estimate vs overestimate — every
    // counter (collisions included) is sha-replayed by the oracle,
    // so the hash proves the sketch arithmetic itself, not just a
    // guarantee boolean. The exact groupBy beside it is the
    // test-scale verifier; at 100 TB the sketch is the production
    // path (the exact table is itself a vocabulary-sized shuffle).
    "text_cms" -> QueryKey((s, d) => {
      val toks = graft.Materialize.once(
        docs(s, d).select(explode(Text.tokens(col("text"))).as("token"))
          .where(col("token") =!= ""))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact"))
      val top = exact.orderBy(col("exact").desc, col("token")).limit(10)
      val sketch = toks
        .select(explode(cmsIndices(col("token"))).as("idx"))
        .agg(graft.expressions.native.cmsAgg(col("idx"),
          CMS_DEPTH * CMS_WIDTH).as("sk"))
      top.crossJoin(broadcast(sketch))
        .select(col("token"), col("exact"),
          graft.expressions.native.cmsEstimate(col("sk"),
            cmsIndices(col("token"))).as("estimate"))
        .withColumn("over", col("estimate") - col("exact"))
        .orderBy(col("token"))
    },
      // 113c: the full CM arithmetic replayed — per-seed hex-prefix
      // buckets (strings: injective to the engine's flat indices),
      // counters = per-(seed, bucket) sums over the WHOLE vocabulary
      // (collisions included), estimate = min over the probe token's
      // own seed counters
      s"""WITH t AS (
         |  SELECT unnest(str_split($NORM, ' ')) AS token FROM documents
         |), ex AS (
         |  SELECT token, count(*) AS exact FROM t WHERE token <> '' GROUP BY token
         |), topt AS (
         |  SELECT token, exact FROM ex ORDER BY exact DESC, token LIMIT 10
         |), pos AS (
         |  SELECT token, i AS seed,
         |    substr(sha256(CAST(i AS VARCHAR) || '|' || token), 1, $CMS_HEX) AS bucket
         |  FROM ex CROSS JOIN range(0, $CMS_DEPTH) r(i)
         |), counts AS (
         |  SELECT p.seed, p.bucket, sum(e.exact) AS c
         |  FROM pos p JOIN ex e USING (token) GROUP BY 1, 2
         |), est AS (
         |  SELECT tt.token, tt.exact, min(c.c) AS estimate
         |  FROM topt tt JOIN pos p USING (token)
         |  JOIN counts c ON c.seed = p.seed AND c.bucket = p.bucket
         |  GROUP BY 1, 2
         |)
         |SELECT token, CAST(exact AS BIGINT) AS exact,
         |  CAST(estimate AS BIGINT) AS estimate,
         |  CAST(estimate - exact AS BIGINT) AS over
         |FROM est ORDER BY token""".stripMargin),
    "text_heavyhitters" -> QueryKey((s, d) => {
      val toks = docs(s, d).select(explode(Text.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
      val K = 8
      val summary = broadcast(toks.agg(
        graft.expressions.native.heavyHitters(col("token"), K).as("mg"),
        count(lit(1)).as("n")))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val wq = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))
      val top = exact.withColumn("rk", row_number().over(wq)).where(col("rk") <= 10)
      val est = element_at(col("mg"), col("token"))
      top.crossJoin(summary)
        .select(col("rk").cast("long").as("rk"), col("token"), col("cnt"),
          (est.isNull ||
            (est <= col("cnt") &&
              est * (K + 1) >= col("cnt") * (K + 1) - col("n"))).as("bound_ok"),
          (!(col("cnt") * (K + 1) > col("n")) || est.isNotNull).as("presence_ok"))
        .orderBy(col("rk"))
    },
      // 113: exact top-10 replay; the MG guarantees are literal TRUE in
      // the oracle (q_approx's convention), so a summary violating its
      // bound or presence contract flips a boolean and fails the hash
      s"""WITH t AS (
         |  SELECT unnest(str_split($NORM, ' ')) AS token FROM documents
         |), c AS (
         |  SELECT token, count(*) AS cnt FROM t WHERE token <> '' GROUP BY token
         |), r AS (
         |  SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rk
         |  FROM c
         |)
         |SELECT CAST(rk AS BIGINT) AS rk, token, cnt,
         |  TRUE AS bound_ok, TRUE AS presence_ok
         |FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin),
    // 112: per-source n-gram diversity report (distinct-n / type-token
    // ratios for n = 1..3 — the lexical-diversity metric dataset cards
    // report and generation-quality evaluations use as self-BLEU's
    // cheap cousin). Per n: one (source, gram) partial aggregate, then
    // per-source distinct = row count and instances = Σcnt from that
    // SAME aggregate — no second corpus pass, no countDistinct shuffle
    // of raw instances. ~|sources|·3 output rows.
    "corpus_diversity" -> QueryKey((s, d) => {
      // tokenized docs feed three union branches: materialize once or
      // the corpus scan + normalize + tokenize executes per branch
      val tokd = graft.Materialize.once(docs(s, d).select(col("source"),
        Text.tokensOrEmpty(col("text")).as("tk")))
      val perN = (1 to 3).map { n =>
        tokd.select(col("source"), explode(Text.ngramsOf(col("tk"), n)).as("g"))
          .groupBy(col("source"), col("g")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_distinct"), sum(col("cnt")).as("n_instances"))
          .select(col("source"), lit(n).as("n"), col("n_instances"), col("n_distinct"),
            round(col("n_distinct").cast("double") / col("n_instances").cast("double"), 6)
              .as("ttr"))
      }
      perN.reduce(_.unionAll(_)).orderBy(col("source"), col("n"))
    },
      // 112: same instance n-grams, (source, gram) aggregate per n
      {
        def gramSql(n: Int): String =
          if (n == 1) "list_transform(tk, x -> x)"
          else s"CASE WHEN len(tk) >= $n THEN list_transform(range(1, len(tk) - ${n - 2}), " +
            s"i -> ${(0 until n).map(j => s"tk[i+$j]").mkString(" || ' ' || ")}) ELSE [] END"
        val arms = (1 to 3).map { n =>
          s"""SELECT source, $n AS n, CAST(sum(cnt) AS BIGINT) AS n_instances,
             |  CAST(count(*) AS BIGINT) AS n_distinct,
             |  round(CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS ttr
             |FROM (
             |  SELECT source, g, count(*) AS cnt FROM (
             |    SELECT source, unnest(${gramSql(n)}) AS g FROM t
             |  ) GROUP BY source, g
             |) GROUP BY source""".stripMargin
        }
        s"""WITH t AS (
           |  SELECT source,
           |    CASE WHEN $NORM = '' THEN [] ELSE str_split($NORM, ' ') END AS tk
           |  FROM documents
           |)
           |${arms.mkString("\n", "\nUNION ALL\n", "\n")}
           |ORDER BY source, n""".stripMargin
      }),
    "corpus_stats" -> QueryKey((s, d) => {
      val wfp = org.apache.spark.sql.expressions.Window
        .partitionBy(Text.normalize(col("text")))
      docs(s, d).select(col("source"), col("lang"), col("n_chars"),
          Text.tokenCount(col("text")).as("n_toks"),
          count(lit(1)).over(wfp).as("n_same"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          round(avg(col("n_chars").cast("double")), 6).as("mean_chars"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
          sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("dup_docs"))
        .orderBy(col("source"))
    },
      // 98: same normalized-text duplicate window + per-source aggregate;
      // quantile_cont matches Spark's exact percentile interpolation
      s"""WITH s0 AS (
         |  SELECT source, lang, n_chars,
         |    CASE WHEN $NORM = '' THEN 0
         |         ELSE len(str_split($NORM, ' ')) END AS n_toks,
         |    count(*) OVER (PARTITION BY $NORM) AS n_same
         |  FROM documents
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  round(avg(CAST(n_chars AS DOUBLE)), 6) AS mean_chars,
         |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS p50_chars,
         |  CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
         |FROM s0 GROUP BY source ORDER BY source""".stripMargin))
}
