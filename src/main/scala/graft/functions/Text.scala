package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data prep, expressed as pure
  * Column functions over built-in (codegen'd) expressions — array HOFs,
  * regexp, sha2 — so they stay narrow maps with no UDFs at 100 TB.
  */
object Text {

  /** Whitespace normalization: lowercase, trim, collapse runs. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** [[tokens]] with the empty-document guard: `[]` for
    * empty/whitespace-only text instead of split's `[""]`. The guard
    * expression every tokenizing query needs — one definition instead
    * of a per-call-site copy (codegen's common-subexpression
    * elimination merges the two `normalize` occurrences: the condition
    * is unconditional, so the branch reuses its value). */
  def tokensOrEmpty(text: Column): Column =
    when(normalize(text) === "", array().cast("array<string>"))
      .otherwise(tokens(text))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(normalize(text) === "", lit(0)).otherwise(size(tokens(text)))

  /** BPE-ish subword proxy: runs of letters, runs of digits, single
    * other non-space chars — the standard pre-tokenizer split. */
  val bpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenRe), lit(0)))

  /** 1 token ≈ 4 chars heuristic (ceil). */
  def estTokensByChars(text: Column): Column =
    ceil(length(text).cast("double") / 4.0).cast("long")

  // ---------------------------------------------------------- language ID
  /** Per-language stopword lists for the n-gram/stopword heuristic.
    * Deterministic argmax with fixed tie order (en,es,de,fr,zh). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "zu"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Count of tokens contained in `words` (with multiplicity). */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    // r19-opt: one codegen'd regex scan instead of a filter HOF over
    // tokens. HOF lambdas are CodegenFallback — the filter ran
    // interpreted AND re-evaluated its `tokens(text)` argument
    // (normalize regex + split) privately per call site, so langId's
    // five lists re-tokenized the doc five times. Equivalence: tokens
    // are the space-separated pieces of the normalized string (single
    // spaces, no leading/trailing after trim), so token == w exactly
    // when " "+w occurs in " "+s followed by a space or end-of-input;
    // matches can't overlap (the lookahead leaves the boundary space
    // for the next token) and can't start inside a token (the leading
    // " " is consumed from the separator). Counts keep multiplicity.
    // TextSpec pins equality against the filter-HOF reference.
    stopwordHitsOnNormalized(normalize(text), words)
  }

  /** [[stopwordHits]] over an ALREADY-normalized string — callers that
    * stage `normalize(text)` as an attribute pass it here so the
    * codegen stage runs one normalization, not one per metric. */
  def stopwordHitsOnNormalized(s: Column, words: Seq[String]): Column = {
    val pat = " (?:" + words.map(java.util.regex.Pattern.quote).mkString("|") +
      ")(?=\\z| )"
    size(regexp_extract_all(concat(lit(" "), s), lit(pat), lit(0)))
  }

  /** Detected language: argmax of stopword hits, ties by list order;
    * no hits at all -> "und" (undetermined). */
  def langId(text: Column): Column = {
    val scored = stopwords.map { case (lang, ws) => (lit(lang), stopwordHits(text, ws)) }
    val (bestLang, bestScore) = scored.reduceLeft[(Column, Column)] {
      // strictly-greater keeps the earlier language on ties
      case ((bl, bs), (l, s)) => (when(s > bs, l).otherwise(bl), greatest(bs, s))
    }
    when(bestScore > 0, bestLang).otherwise(lit("und"))
  }

  // ------------------------------------------------------- quality score
  /** Ratio of non-alphanumeric-non-space chars to total chars. */
  /** The 68 chars of the regex class `[A-Za-z0-9\s]` (Java `\s` =
    * space TAB LF VT FF CR — NOT Unicode-aware by default), enumerated
    * so [[punctRatio]] can `translate` them away instead of paying a
    * regex engine per char (r19-opt: measured 8x less CPU over the sf
    * docs; counts are bit-identical — TextSpec pins it). */
  private val alnumSpaceChars: String =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')).mkString +
      " \t\n\f\r"

  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, lit(0.0)).otherwise(
      length(translate(text, alnumSpaceChars, "")).cast("double") / n.cast("double"))
  }

  /** Ratio of English stopword tokens to all tokens (fluency proxy). */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(stopwordHits(text, stopwords.head._2).cast("double") / n.cast("double"))
  }

  /** Mean token length of the normalized text. r19-opt: the token
    * lengths sum is pure arithmetic — [[normalize]] guarantees single
    * spaces and no leading/trailing ones, so the normalized string is
    * exactly the tokens joined by size−1 separators and
    * Σ len(tok) = length(s) − (size(tokens) − 1). The former
    * `aggregate` HOF ran interpreted (CodegenFallback) and
    * re-evaluated its `tokens(text)` argument privately instead of
    * sharing the codegen'd subexpression. Same longs, same one
    * division — bit-identical doubles (TextSpec pins equality against
    * the HOF reference). */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    val totalLen =
      (length(normalize(text)) - (size(tokens(text)) - 1)).cast("long")
    when(n === 0, lit(0.0)).otherwise(totalLen.cast("double") / n.cast("double"))
  }

  /** Composite quality heuristic in [0,1]: rewards document length
    * (capped), sane mean token length, low punctuation noise, some
    * stopword mass. A Gopher-rules-flavored linear blend. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val mtl = meanTokenLen(text)
    val mtlScore = when(mtl >= 3.0 && mtl <= 10.0, 1.0).otherwise(0.0)
    val punct = punctRatio(text)
    val punctScore = when(punct <= 0.1, 1.0).when(punct <= 0.3, 0.5).otherwise(0.0)
    val sw = stopwordRatio(text)
    val swScore = when(sw >= 0.05, 1.0).otherwise(0.0)
    round(lenScore * 0.4 + mtlScore * 0.2 + punctScore * 0.2 + swScore * 0.2, 6)
  }

  // ------------------------------------------- encoding normalization
  /** ftfy-class mojibake repairs: the common UTF-8-bytes-decoded-as-
    * Latin-1 double encodings seen in web crawls (curly quote family
    * through â€¦, accented Latin through Ã¤). Fixed order, applied via
    * chained `replace` in BOTH engines — the table is INTERPOLATED
    * into the text_normalize oracle SQL so the two sides cannot drift.
    * No pattern is a substring of another, so the chain is
    * order-insensitive in effect but kept ordered for determinism.
    * Deliberately excludes sequences containing C1 controls (e.g. the
    * â€ right-double-quote corruption) — those arrive already
    * mangled differently per decoder and are left to the scrub pass.
    * NOTE the à entry: à is bytes C3 A0, so its Latin-1/cp1252
    * mojibake is Ã followed by NBSP (U+00A0), NOT Ã + ASCII space —
    * "Ã " with a plain space is legitimate text (word-final Ã, e.g.
    * Portuguese "IRMÃ DELE") and must be left untouched. */
  val mojibake: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€˜" -> "‘", "â€œ" -> "“",
    "â€¦" -> "…", "â€“" -> "–", "â€”" -> "—",
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú",
    "Ã±" -> "ñ", "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü", "ÃŸ" -> "ß",
    "Ã§" -> "ç", "Ã\u00A0" -> "à")

  /** Zero-width / control scrub class, written in the regex subset
    * Java and RE2 interpret identically: C0 controls except \t \n \r
    * (\r is rewritten to \n by [[fixText]] BEFORE this class applies),
    * DEL, soft hyphen, zero-width space/non-joiner/joiner, word
    * joiner, BOM/zero-width-no-break. */
  val scrubRe: String =
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{00AD}\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}]"

  /** Chained mojibake repair (codegen'd `replace` built-ins). */
  def repairMojibake(text: Column): Column =
    mojibake.foldLeft(text) { case (c, (bad, good)) => replace(c, lit(bad), lit(good)) }

  /** Full encoding/Unicode normalization pass — the curation stage
    * that runs BEFORE any fingerprinting or dedup keying
    * (text_fingerprint / dedup_exact / dedup_paragraph), so
    * visually-identical texts that differ only in NFD-vs-NFC form,
    * zero-width characters, line endings, or mojibake unify onto one
    * key. Order: mojibake repair (operates on the corrupted byte
    * sequences), CRLF/CR → LF, zero-width+control scrub, then NFC
    * composition LAST (scrubbing a zero-width-non-joiner can newly
    * juxtapose a base letter and a combining mark — composing first
    * would miss it). All built-ins except the final NFC, which Spark
    * lacks: [[graft.expressions.native.nfc]], a codegen'd Catalyst
    * scalar over the JDK normalizer. */
  def fixText(text: Column): Column = {
    val crlf = replace(replace(repairMojibake(text), lit("\r\n"), lit("\n")),
      lit("\r"), lit("\n"))
    graft.expressions.native.nfc(regexp_replace(crlf, scrubRe, ""))
  }

  // ----------------------------------------------------- PII redaction
  /** Redaction patterns — written in the regex subset Java and RE2
    * (DuckDB) interpret identically, so the text_redact oracle replays
    * the scrub bit-for-bit. Applied in a fixed order (emails first:
    * they contain digit runs; IPs before bare digit runs). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val longDigitsRe = "[0-9]{9,}"

  def countMatches(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Scrub emails, IPv4 addresses, and 9+-digit runs (SSN/card-shaped)
    * to typed placeholder tokens — the standard pre-training PII pass,
    * as a pure codegen'd Column (no UDF). */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, emailRe, "<EMAIL>")
    val i = regexp_replace(e, ipv4Re, "<IP>")
    regexp_replace(i, longDigitsRe, "<NUM>")
  }

  // ------------------------------------------------------------ chunking
  /** Raw whitespace tokens with empties dropped: `[ \t\n\r\f]+` split
    * (explicit class — identical in Java and RE2 regex dialects, so an
    * oracle can replay it), then filter of the empty leading token a
    * leading separator produces. */
  def rawTokens(text: Column): Column =
    filter(split(text, "[ \t\n\r\f]+"), t => t =!= "")

  /** Chunk start offsets for a token array: 0, stride, 2·stride, …
    * while < n_tokens (empty array for an empty document — explode
    * then drops the row). stride = chunkSize − overlap. */
  def chunkStarts(tokens: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got $chunkSize/$overlap")
    when(size(tokens) > 0,
      sequence(lit(0), size(tokens) - 1, lit(chunkSize - overlap)))
      .otherwise(array().cast("array<int>"))
  }

  /** Split documents into overlapping fixed-token-count windows — the
    * standard context-length packing step before tokenization. Emits
    * (all input columns, chunk_start, chunk_text, n_tokens); documents
    * with zero tokens emit no chunks; a document's final chunk may be
    * short. A narrow map + explode: no shuffle, rows grow by
    * ~n_tokens/stride per doc, so executors size on chunk count. */
  def chunk(df: org.apache.spark.sql.DataFrame, textCol: Column,
      chunkSize: Int = 64, overlap: Int = 16): org.apache.spark.sql.DataFrame =
    df.withColumn("__toks", rawTokens(textCol))
      .withColumn("chunk_start",
        explode(chunkStarts(col("__toks"), chunkSize, overlap)))
      .withColumn("chunk_text",
        array_join(slice(col("__toks"), col("chunk_start") + 1, lit(chunkSize)), " "))
      .withColumn("n_tokens",
        least(lit(chunkSize), size(col("__toks")) - col("chunk_start")))
      .drop("__toks")

  /** Shard-local offset-quota packing: assign chunks to fixed token
    * budgets — the step between chunking and writing tokenized
    * examples. Chunks are sharded by doc_id, then within each shard a
    * running token sum (ordered by doc_id, chunk_start) maps each chunk
    * to pack `floor(preceding_tokens / budget)`.
    *
    * Exact greedy packing is inherently sequential (each decision
    * depends on the previous pack's fill); this is the deterministic
    * parallel formulation: packs are budget windows over the running
    * offset, so a pack can overrun by at most one chunk's tokens.
    * Shard-local windows keep it scale-correct — one shuffle on the
    * shard key, ~n/nShards rows per window task, no global sort. Size
    * nShards to the cluster (here 16 so the tiny test corpus still
    * exercises multi-chunk packs). */
  def packChunks(chunks: org.apache.spark.sql.DataFrame, budget: Int,
      nShards: Int): org.apache.spark.sql.DataFrame = {
    require(budget > 0 && nShards > 0, s"need positive budget/shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"), col("chunk_start"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    chunks
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(budget.toDouble)))
  }

  // -------------------------------------------------------- repetition
  /** Adjacent-token bigrams of a token array: n−1 entries, `[]` for
    * arrays shorter than 2 (sequence() would count down otherwise). */
  def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** All k-token ngram INSTANCES of a token array in position order
    * (n−k+1 entries, `[]` when shorter than k) — instance-level,
    * unlike Dedup's distinct shingle sets, so positional duplication
    * mass can be measured. Pass an attribute ref, not a composed
    * expression (lambda bodies re-evaluate outer subexpressions per
    * element). */
  def ngramsOf(toks: Column, k: Int): Column = {
    require(k >= 1, s"ngram size must be >= 1, got $k")
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Count of the most frequent token (0 for an empty array). The
    * O(n·distinct) HOF is fine here: it runs inside the per-document
    * quality scan (docs are KB-scale), not in a join hot path. */
  def topTokenCount(toks: Column): Column =
    // r19-opt: native O(n) hash-count kernel; the HOF composition
    // (`ReferenceForms.topTokenCountHof` in the test sources) ran
    // interpreted in O(n·distinct) — quadratic per document — and
    // dominated the Gopher measurement pass. NativeExprSpec asserts
    // kernel ≡ HOF on adversarial arrays.
    when(size(toks) === 0, lit(0))
      .otherwise(graft.expressions.native.topTokenCount(toks))

  /** Fraction of array entries that are repeats of an earlier entry:
    * 1 − distinct/total, 0 for empty. The Gopher-class repetition
    * signal over tokens or n-grams. */
  def dupRatio(arr: Column): Column =
    when(size(arr) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr).cast("double"))

  // ------------------------------------------- code-vs-prose detection
  /** Structural-symbol class for code detection: braces, brackets,
    * parens, semicolons, assignment/comparison. Identical literal in
    * Java regex and RE2, so the oracle interpolates the same string.
    * Computed on the RAW text — code is case/layout-sensitive, so no
    * [[normalize]] here. */
  val codeSymbolRe: String = """[{}()\[\];=<>]"""

  /** Programming-keyword alternation (word-bounded; \b agrees between
    * Java regex and RE2 on ASCII). "returns" does NOT match
    * \breturn\b — prose about returns stays prose. */
  val codeKeywordRe: String =
    """\b(def|return|import|for|while|if|else|int|var|let|function|class|void|public)\b"""

  /** Count of structural symbols (delete-and-diff: one regexp pass). */
  def codeSymbolCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, codeSymbolRe, ""))).cast("long")

  /** Count of word-bounded programming-keyword hits. */
  def codeKeywordHits(text: Column): Column =
    regexp_count(text, lit(codeKeywordRe)).cast("long")

  /** Code-vs-prose gate in pure integer arithmetic (no double drift):
    * symbol mass ≥ 4% of chars, or ≥ 3 keyword hits. The mixing
    * signal a pretrain pipeline uses to route code to its own domain
    * budget. */
  def isCode(nChars: Column, nSymbols: Column, kwHits: Column): Column =
    (nSymbols * 25 >= nChars && nChars > 0) || kwHits >= 3

  // --------------------------------------- license/boilerplate detection
  /** License/boilerplate phrase list — lowercase LITERAL phrases (no
    * regex: substring tests behave identically in both engines), one
    * list interpolated into the text_license oracle so the engines
    * cannot drift. Presence of any phrase marks license text a
    * pretrain corpus drops or down-weights (near-zero training
    * signal, massively duplicated across repos and sites). */
  val licensePhrases: Seq[String] = Seq(
    "permission is hereby granted",
    "all rights reserved",
    "licensed under the apache license",
    "gnu general public license",
    "mit license",
    "redistribution and use in source and binary forms",
    "creative commons attribution",
    "spdx-license-identifier",
    "without warranty of any kind",
    "warranties of merchantability")

  /** Count of DISTINCT license phrases present (case-insensitive
    * literal containment; one `instr` per phrase — a short fixed
    * list, all inside one codegen stage). */
  def licenseHits(text: Column): Column = {
    val low = lower(text)
    licensePhrases.map(p => when(instr(low, p) > 0, 1L).otherwise(0L))
      .reduce(_ + _)
  }

  // ------------------------------------------- watermark detection
  /** Greenlist watermark detection (Kirchenbauer et al. 2023, "A
    * Watermark for Large Language Models"): a watermarking decoder
    * biases token t_i toward a pseudo-random "green list" seeded on
    * t_{i−1}; the detector counts green transitions and z-tests the
    * count against the unwatermarked expectation γ·T. This counts the
    * green transitions: t_i is green iff an md5 draw keyed on
    * (t_{i−1}, t_i) lands below `gammaPct` — sha-derived, so the
    * DuckDB oracle replays every draw. A training pipeline runs this
    * to KEEP synthetic/model-generated text out of a pretrain corpus
    * (or to audit a distillation set for it).
    *
    * Pass a staged token-array attribute ref (the HOF lambda rule —
    * an inline tokenize would re-run per element). Docs with < 2
    * tokens score 0 (sequence(2, n) would run DESCENDING for n < 2 —
    * Spark sequences step −1 when start > stop — hence the guard). */
  def watermarkGreens(toks: Column, gammaPct: Int): Column = {
    val green = (i: Column) =>
      when(conv(substring(md5(concat(lit("wm:"),
          element_at(toks, (i - 1).cast("int")), lit("|"),
          element_at(toks, i.cast("int")))), 1, 8), 16, 10)
        .cast("long") % 100 < gammaPct, 1L).otherwise(0L)
    when(size(toks) >= 2,
      aggregate(transform(sequence(lit(2), size(toks)), green),
        lit(0L), (a, x) => a + x))
      .otherwise(0L)
  }

  // -------------------------------------------------------- fingerprints
  /** Normalized-content sha-256 (exact-dedup key at any scale). */
  def fingerprint(text: Column): Column = sha2(normalize(text), 256)

  /** 64-bit content fingerprint: xxhash64 of the normalized text —
    * the cheap rolling-hash-class key for shard-local dedup. */
  def fingerprint64(text: Column): Column = xxhash64(normalize(text))
}
