package graft

import org.apache.spark.sql.functions._
import graft.operators.Lines

/** Planted-fixture coverage for the C4 line rules and paragraph dedup
  * that the synthetic (single-line, punctuation-free) oracle corpus
  * cannot exercise: multi-line documents, boilerplate footers, the
  * terminal-punctuation rule, page-level drops, blank-line paragraph
  * structure. */
class LinesSpec extends SparkSpec {
  import spark.implicits._

  test("cleanLines: C4 rules — min words, javascript, page drops, footer dedup") {
    val docs = Seq(
      // doc 1: clean content + a boilerplate footer
      1L -> "the quick brown fox jumps\nok\nSubscribe to our Newsletter today",
      // doc 2: same footer (normalized-case match) must vanish here;
      // a javascript line and a 2-word line also drop
      2L -> ("some other real content line\nenable javascript to view this\n" +
        "two words\nsubscribe to our newsletter today"),
      // doc 3: page-level lorem ipsum drop — every line lost
      3L -> "perfectly fine line here\nlorem ipsum dolor sit amet",
      // doc 4: page-level curly-brace drop (leftover code)
      4L -> "function foo() { return 1 }\nreal text line here",
      // doc 5: all lines under min words -> doc drops out of output
      5L -> "one\ntwo words\nok fine"
    ).toDF("doc_id", "text")
    val out = Lines.cleanLines(docs).orderBy(col("doc_id")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 2L), s"unexpected surviving docs: ${out.keySet}")
    // doc 1 keeps its content line AND the footer (first occurrence)
    assert(out(1L)._1 ==
      "the quick brown fox jumps\nSubscribe to our Newsletter today")
    assert(out(1L)._2 == 2 && out(1L)._3 == 3)
    // doc 2 keeps only the real content: footer deduped (doc 1 owns
    // it), javascript rule and min-words rule drop the rest
    assert(out(2L)._1 == "some other real content line")
    assert(out(2L)._2 == 1 && out(2L)._3 == 4)
  }

  test("cleanLines: terminal punctuation rule on, C4-style") {
    val docs = Seq(
      10L -> ("a proper sentence ends here.\nanother proper one!\n" +
        "a quoted ending \"like this\"\nno terminal punctuation on this line\n" +
        "is this kept? yes it is?")
    ).toDF("doc_id", "text")
    val out = Lines.cleanLines(docs, requireTerminalPunct = true)
      .select(col("clean_text")).as[String].head()
    assert(out == "a proper sentence ends here.\nanother proper one!\n" +
      "a quoted ending \"like this\"\nis this kept? yes it is?")
  }

  test("cleanLines: keep-first is corpus-global and ordered by (doc_id, line_idx)") {
    val docs = Seq(
      7L -> "shared boilerplate line text\nunique to doc seven here",
      3L -> "unique to doc three here\nshared boilerplate line text",
      9L -> "shared boilerplate line text"
    ).toDF("doc_id", "text")
    val out = Lines.cleanLines(docs).orderBy(col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 3 is the smallest doc_id -> owns the shared line's first
    // occurrence even though doc 7 lists it at line 0
    assert(out(3L) == "unique to doc three here\nshared boilerplate line text")
    assert(out(7L) == "unique to doc seven here")
    assert(!out.contains(9L), "doc of pure boilerplate must drop out")
  }

  test("dedupParagraphs: blank-line split, keep-first, all-repeat docs drop") {
    val shared = "this exact paragraph appears in several documents verbatim"
    val docs = Seq(
      1L -> s"unique first paragraph\n\n$shared\n\nunique tail",
      2L -> s"$shared\n\nanother unique paragraph",
      3L -> shared, // all-repeat -> drops out
      // within-doc repeat: second copy removed too
      4L -> "self repeated paragraph\n\n\nself repeated paragraph"
    ).toDF("doc_id", "text")
    val out = Lines.dedupParagraphs(docs).orderBy(col("doc_id")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 2L, 4L))
    assert(out(1L)._1 == s"unique first paragraph\n\n$shared\n\nunique tail")
    assert(out(1L)._2 == 3 && out(1L)._3 == 0)
    assert(out(2L)._1 == "another unique paragraph")
    assert(out(2L)._2 == 2 && out(2L)._3 == 1)
    assert(out(4L)._1 == "self repeated paragraph")
    assert(out(4L)._2 == 2 && out(4L)._3 == 1)
  }

  test("badwordAudit: exact-token blocklist, substring-safe, composes with cleanLines") {
    import spark.implicits._
    val docs = Seq(
      (1L, "perfectly clean page with useful words only"),
      (2L, "this page mentions dup twice because dup is listed"),
      // substring safety: a blocklisted token INSIDE a longer token
      // must not fire (the scunthorpe class)
      (3L, "duplicate and dupont are not the listed token"),
      (4L, "POISON uppercase normalizes and fires"),
      (5L, "")).toDF("doc_id", "text")
    val got = graft.operators.Lines.badwordAudit(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (0L, true), 2L -> (2L, false), 3L -> (0L, true),
      4L -> (1L, false), 5L -> (0L, true)), got.toString)
    // the C4 composition: blocklist page filter AHEAD of line cleaning
    val kept = docs.join(
      graft.operators.Lines.badwordAudit(docs).where(col("kept"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val cleaned = graft.operators.Lines.cleanLines(kept)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(!cleaned.contains(2L) && !cleaned.contains(4L),
      s"blocklisted pages leaked into line cleaning: $cleaned")
    assert(cleaned.contains(1L) && cleaned.contains(3L), cleaned.toString)
  }

  test("corpus_clean_ml: rank gate keeps floor(0.3 n) canonical-filtered docs") {
    val out = SparkEntry.queries("corpus_clean_ml")(spark, sfDir)
      .collect()
    val n = graft.sources.Tables.documents(spark, sfDir).count()
    // the rank gate selects exactly floor(0.3 n) BEFORE the canonical
    // filter; after it the count can only shrink
    assert(out.length <= 3 * n / 10 && out.length > 0,
      s"expected 0 < kept <= ${3 * n / 10}, got ${out.length}")
    // scores are monotone-compatible with the gate: every kept score
    // >= every excluded canonical score is NOT required (rank ties to
    // doc_id), but kept scores must be a top slice: min kept >= the
    // (k+1)-th best overall score is implied by rank selection
    val scores = out.map(_.getDouble(1))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }
}
