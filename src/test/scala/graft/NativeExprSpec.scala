package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Knn}
import graft.ReferenceForms.{cosineDHof, cosineHof, dist2Hof, lshSignatureHof,
  shinglesHof, simhash64Hof, topTokenCountHof, trigramBucketsExploded}
import graft.sources.Tables

/** The native codegen expressions must reproduce the built-in-function
  * (HOF) compositions bit-for-bit — swapping implementations can never
  * change query results. Asserted over the whole sf0.001 corpus plus
  * edge-case strings.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
    .unionByName(Seq(
      (100001L, "", "x", "src", 0L),
      (100002L, "   ", "x", "src", 3L),
      (100003L, "ONE", "x", "src", 3L),
      (100004L, "A  B\tC\nd   e", "x", "src", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))

  test("simhash64 native == HOF on corpus + edges") {
    val diff = docs.select(
      Dedup.simhash64($"text").as("a"), simhash64Hof($"text").as("b"))
      .where($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("shingles native == HOF (k=2,3) on corpus + edges") {
    for (k <- Seq(2, 3)) {
      val diff = docs.select(
        Dedup.shingles($"text", k).as("a"), shinglesHof($"text", k).as("b"))
        .where($"a" =!= $"b").count()
      assert(diff == 0, s"k=$k")
    }
  }

  test("argmin kernels == the exchange-form argmax/argmin, ties included") {
    import graft.expressions.native
    val embs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    // centroid table WITH planted ties: cells 1000/1001 share vector
    // 0's embedding and 2000/2001 share vector 1's — the winner must
    // be the LOWER cell id on the exact rounded-cosine tie
    val base = embs.where($"vec_id" < 7)
      .select($"vec_id".as("cell_id"), $"embedding".as("centroid"))
    val dup = embs.where($"vec_id" < 2)
      .select(($"vec_id" * 1000 + 1000).as("cell_id"), $"embedding".as("centroid"))
      .unionAll(embs.where($"vec_id" < 2)
        .select(($"vec_id" * 1000 + 1001).as("cell_id"), $"embedding".as("centroid")))
    val cents = base.unionAll(dup)

    // reference: the pre-r19 crossJoin + groupBy max(struct) form
    def refAssign(vecs: org.apache.spark.sql.DataFrame,
        cs: org.apache.spark.sql.DataFrame, cosF: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      vecs.crossJoin(broadcast(cs))
        .select($"vec_id",
          struct(round(cosF($"embedding", $"centroid"), 6).as("cos"),
            (-$"cell_id").as("neg")).as("sc"))
        .groupBy($"vec_id").agg(max($"sc").as("best"))
        .select($"vec_id", (-$"best.neg").as("cell_id"))

    val now = Knn.ivfAssign(embs, cents).select($"vec_id", $"cell_id")
    val ref = refAssign(embs, cents, (a, b) => graft.expressions.native.cosineF(a, b))
    assert(now.count() == embs.count() &&
      now.join(ref, Seq("vec_id", "cell_id")).count() == embs.count(),
      "ivfArgmin drifted from the exchange form")

    // trained (double-array) centroids: same vectors cast, + planted tie
    val dcents = cents.select($"cell_id",
      expr("transform(centroid, x -> cast(x as double))").as("centroid"))
    val kmNow = embs
      .crossJoin(broadcast(dcents.agg(
        collect_list(struct($"cell_id", $"centroid")).as("cents"))))
      .select($"vec_id", explode(native.kmArgmin($"embedding", $"cents")).as("pr"))
      .select($"vec_id", $"pr.cell_id".as("cell_id"), $"pr.cos".as("cos"))
    val kmRef = embs.crossJoin(broadcast(dcents))
      .select($"vec_id",
        struct(round(native.cosineFD($"embedding", $"centroid"), 6).as("cos"),
          (-$"cell_id").as("neg")).as("sc"))
      .groupBy($"vec_id").agg(max($"sc").as("best"))
      .select($"vec_id", (-$"best.neg").as("cell_id"), $"best.cos".as("cos"))
    assert(kmNow.count() == embs.count() &&
      kmNow.join(kmRef, Seq("vec_id", "cell_id", "cos")).count() == embs.count(),
      "kmArgmin drifted from the exchange form")

    // PQ: per-block codebooks with a planted duplicate cell per block
    val blk = embs.select($"vec_id",
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select($"vec_id", explode(expr("sequence(0, 3)")).as("block"), $"v")
      .select($"vec_id", $"block",
        expr("slice(v, block * 16 + 1, 16)").as("sub"))
    val books0 = blk.where($"vec_id" < 4)
      .select($"block", $"vec_id".as("cell_id"), $"sub".as("c"))
    val books = books0.unionAll(
      books0.where($"cell_id" === 0).select($"block", lit(9000L).as("cell_id"), $"c"))
    val pqNow = blk.join(broadcast(books.groupBy($"block")
        .agg(collect_list(struct($"cell_id", $"c")).as("cells"))), "block")
      .select($"vec_id", $"block", native.pqArgmin($"sub", $"cells").as("code"))
    val pqRef = blk.join(broadcast(books), "block")
      .select($"vec_id", $"block",
        struct(round(native.dist2D($"sub", $"c"), 6).as("d"), $"cell_id").as("sc"))
      .groupBy($"vec_id", $"block").agg(min($"sc").as("best"))
      .select($"vec_id", $"block", $"best.cell_id".as("code"))
    assert(pqNow.count() == pqRef.count() &&
      pqNow.join(pqRef, Seq("vec_id", "block", "code")).count() == pqRef.count(),
      "pqArgmin drifted from the exchange form")
  }

  test("top_token_count native == HOF on corpus tokens + edge arrays") {
    import graft.functions.Text
    // whole-corpus tokens (incl. the planted empty/whitespace/mixed
    // edge docs above)
    val diff = docs.select(Text.tokensOrEmpty($"text").as("tk"))
      .select(Text.topTokenCount($"tk").as("a"), topTokenCountHof($"tk").as("b"))
      .where(!($"a" <=> $"b")).count()
    assert(diff == 0)
    // adversarial arrays the tokenizer can't produce: nulls inside the
    // array (HOF counts them zero), all-null, ties, null array
    val arrs: Seq[Seq[String]] = Seq(
      Seq("x"), Seq("x", "x", "y"), Seq("a", "b", "a", "b", "a"),
      Seq(null, "x", null, "x"), Seq(null, null), Seq(), null)
    val df = arrs.toDF("tk")
      .unionAll(arrs.toDF("tk")) // non-trivial partitioning
      .repartition(2)            // defeat ConvertToLocalRelation folding
    val diff2 = df
      .select(Text.topTokenCount($"tk").as("a"), topTokenCountHof($"tk").as("b"))
      .where(!($"a" <=> $"b")).count()
    assert(diff2 == 0)
  }

  test("trigram_bucket_counts native == explode+md5+groupBy on corpus + edges") {
    import graft.operators.LangId
    // adversarial rows: exactly-3-chars, repeats (multiplicity through
    // the in-kernel distinct-trigram dedup), CJK, supplementary
    // (non-BMP) code points where UTF-16 substring would mis-slice,
    // whitespace collapse through Text.normalize, null text, and a doc
    // long enough to force bucket collisions at tiny bucket counts
    val adv = Seq(
      (200001L, "abc", "x", "src", 3L),
      (200002L, "aaaaaa", "x", "src", 6L),
      (200003L, "abcabcabc zz abcabc", "x", "src", 19L),
      (200004L, "你好世界你好", "x", "src", 6L),
      (200005L, "a😀b😀c", "x", "src", 5L),
      (200006L, "  AB  cd  EF  ", "x", "src", 14L),
      (200007L, null, "x", "src", 0L),
      (200008L, ("the quick brown fox " * 40).trim, "x", "src", 799L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val all = docs.unionByName(adv)
    for (buckets <- Seq(7, 4096)) {
      val a = LangId.trigramBuckets(all, buckets)
      val b = trigramBucketsExploded(all, buckets)
      assert(a.schema.map(f => (f.name, f.dataType)) ==
        b.schema.map(f => (f.name, f.dataType)))
      val diff = a.unionByName(b).groupBy("doc_id", "lang", "b", "m")
        .count().where($"count" =!= 2).count()
      assert(diff == 0, s"buckets=$buckets: kernel vs exploded rows diverge")
      assert(a.count() == b.count(), s"buckets=$buckets: row counts diverge")
    }
  }

  test("dsir_bucket_counts native == explode+filter+md5 occurrence rows on corpus + edges") {
    import graft.functions.Text
    val adv = Seq(
      (300001L, "", "x", "src", 0L),
      (300002L, "   ", "x", "src", 3L),
      (300003L, "one", "x", "src", 3L),
      (300004L, "the the the quick", "x", "src", 17L),
      (300005L, "A  B\tC\nd   e", "x", "src", 12L),
      (300006L, null, "x", "src", 0L),
      (300007L, ("lorem ipsum dolor sit amet " * 30).trim, "x", "src", 809L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val all = docs.unionByName(adv)
    for (buckets <- Seq(5, 64)) {
      // reference: the pre-r19 per-occurrence composition, re-aggregated
      val ref = all.select($"doc_id", $"lang",
          explode(Text.tokens($"text")).as("tok"))
        .where($"tok" =!= "")
        .select($"doc_id", $"lang",
          (conv(substring(md5(concat(lit("dsir:"), $"tok")), 1, 8), 16, 10)
            .cast("long") % buckets).as("b"))
        .groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("m"))
      val ker = all.select($"doc_id", $"lang",
          explode(graft.expressions.native.dsirBucketCounts($"text", buckets)).as("bm"))
        .select($"doc_id", $"lang",
          $"bm".getField("b").as("b"), $"bm".getField("m").as("m"))
      val diff = ker.unionByName(ref).groupBy("doc_id", "lang", "b", "m")
        .count().where($"count" =!= 2).count()
      assert(diff == 0, s"buckets=$buckets: kernel vs occurrence rows diverge")
      assert(ker.count() == ref.count(), s"buckets=$buckets: row counts diverge")
    }
  }

  test("intersect_count native == HOF intersection count on shingle-set pairs") {
    // every adjacent-id doc pair: distinct shingle sets of varying
    // overlap, including empty-token edge docs. The reference is a HOF
    // composition the IntersectCountRewrite rule does NOT match (a
    // size(array_intersect) reference would now be rewritten to the
    // kernel itself and prove nothing).
    def ref(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      size(filter(array_distinct(a), x => array_contains(b, x)))
    val a = docs.select($"doc_id", Dedup.shingles($"text", 3).as("sh_a"))
    val b = docs.select(($"doc_id" - 1).as("doc_id"), Dedup.shingles($"text", 3).as("sh_b"))
    val joined = a.join(b, "doc_id")
    val diff = joined.select(
      graft.expressions.native.intersectCount($"sh_a", $"sh_b").as("x"),
      ref($"sh_a", $"sh_b").as("y"),
      graft.expressions.native.intersectCount($"sh_b", $"sh_a").as("z"))
      .where($"x" =!= $"y" || $"z" =!= $"y").count()
    assert(diff == 0)
  }

  test("size(array_intersect) auto-rewrites to the kernel; dups count once") {
    // built over range() so constant folding cannot collapse the plan
    // before the rewrite is observable
    val df = spark.range(4).select(
      when($"id" === 0, array(lit("x")))
        .when($"id" === 1, array(lit("a"), lit("a"), lit("b")))
        .when($"id" === 2, array().cast("array<string>"))
        .otherwise(array(lit("u"), lit("v"))).as("a"),
      when($"id" === 0, array(lit("x"), lit("x")))
        .when($"id" === 1, array(lit("b"), lit("b"), lit("a"), lit("c")))
        .when($"id" === 2, array(lit("a")))
        .otherwise(lit(null).cast("array<string>")).as("b"),
      $"id")
    val q = df.select($"id", size(array_intersect($"a", $"b")).as("n"))
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_intersect_count"),
      "optimizer rule did not rewrite size(array_intersect)")
    val got = q.orderBy($"id").select($"n").collect()
    // dups count once (rows 0,1), empty -> 0, null side -> null
    assert(got(0).getInt(0) == 1 && got(1).getInt(0) == 2 && got(2).getInt(0) == 0)
    assert(got(3).isNullAt(0))
  }

  test("minhash signature native == HOF on corpus") {
    val diff = docs.select(
      graft.expressions.native.minhashSig($"text", 3, 32).as("a"),
      Dedup.minhashSignature(shinglesHof($"text", 3), 32).as("b"))
      .where($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("cosine + lsh signature native == HOF on embeddings") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.select($"vec_id".as("qid"), $"embedding".as("q"))
      .where($"qid" < 20)
    val joined = e.crossJoin(broadcast(q))
    val cosDiff = joined.select(
      Knn.cosine($"embedding", $"q").as("a"),
      cosineHof($"embedding", $"q").as("b"))
      .where($"a" =!= $"b" && !(isnan($"a") && isnan($"b"))).count()
    assert(cosDiff == 0)
    val sigDiff = e.select(
      Knn.lshSignature($"embedding", 16).as("a"),
      lshSignatureHof($"embedding", 16).as("b"))
      .where($"a" =!= $"b").count()
    assert(sigDiff == 0)
    // mixed float-vector × double-centroid kernel (k-means / Rocchio
    // assignment): native == HOF bit-for-bit, including against
    // non-trivial double centroids (a scaled mean-ish vector)
    val cents = q.select(($"qid" % 4).as("cid"),
      transform($"q", x => x.cast("double") * 1.37 + 0.001).as("c"))
    val fdDiff = e.crossJoin(broadcast(cents)).select(
      graft.expressions.native.cosineFD($"embedding", $"c").as("a"),
      cosineDHof($"embedding", $"c").as("b"))
      .where($"a" =!= $"b" && !(isnan($"a") && isnan($"b"))).count()
    assert(fdDiff == 0)
    // PQ code-assignment distance: native == HOF over double pairs
    val dd = e.select(transform($"embedding", x => x.cast("double")).as("v"))
      .crossJoin(broadcast(cents))
      .select(round(graft.expressions.native.dist2D($"v", $"c"), 6).as("a"),
        dist2Hof($"v", $"c").as("b"))
      .where($"a" =!= $"b").count()
    assert(dd == 0)
  }

  test("lenient_double native == the regex ParseFloat composition, raw bits, wherever it does not throw") {
    import graft.ReferenceForms.lenientDoubleRegex
    // grammar-shaped strings: signs, underscores (valid and misplaced),
    // dots, exponents, hex mantissas of 15–18 digits, inf/infinity/nan
    // in mixed case, surrounding whitespace and line terminators
    val rnd = new scala.util.Random(97)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def digits(n: Int, alphabet: String): String = {
      val sb = new StringBuilder
      for (i <- 0 until n) {
        if (i > 0 && rnd.nextInt(8) == 0) sb += '_'
        sb += alphabet(rnd.nextInt(alphabet.length))
      }
      rnd.nextInt(24) match {
        case 0 => "_" + sb
        case 1 => sb.toString + "_"
        case 2 => sb.toString.replaceFirst("_", "__")
        case _ => sb.toString
      }
    }
    def dec(n: Int) = digits(n, "0123456789")
    def sign = pick("", "", "+", "-")
    def decimal: String = {
      val ip = if (rnd.nextInt(6) == 0) "" else dec(1 + rnd.nextInt(9))
      val fp = pick("", ".", "." + dec(1 + rnd.nextInt(9)))
      val ex = if (rnd.nextInt(3) == 0) pick("e", "E") + sign + dec(1 + rnd.nextInt(3)) else ""
      sign + ip + fp + ex
    }
    def hex: String = {
      val d = pick("", "0", "000") + digits(pick(1, 3, 15, 16, 17, 18), "0123456789abcdefABCDEF")
      val cut = rnd.nextInt(d.length + 1)
      val mant = if (rnd.nextBoolean()) d else d.take(cut) + "." + d.drop(cut)
      val ex = pick(dec(1 + rnd.nextInt(4)), "1074", "1075", "2147483647", "-2147483648",
        "99999999999")
      sign + pick("0x", "0X") + pick("", "", "_") + mant + pick("p", "P") + pick("", "+", "-") + ex
    }
    def special: String = sign + pick("inf", "infinity", "nan", "na", "infinit")
      .map(c => if (rnd.nextBoolean()) c.toUpper else c)
    def wrapped(t: String): String =
      pick(t, t, t, t, t, t, t, t, " " + t, t + " ", t + "\n", t + "\r\n", t + "\t", t + "\u2028",
        "\n" + t, t + "\n\n", t + "x")
    val corpus = StormFunctionsSpec.GoGrammar.map(_._1) ++
      Seq("1.5\n", "-0.0", "-0", "0x1p99999999999", "-0x0p0", "", " ") ++
      Seq.fill(3000)(wrapped(pick(decimal, decimal, hex, special)))
    def bits(v: Any): Option[Long] =
      Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    // non-ANSI evaluation lets the composition finish on every input;
    // each input where it disagrees with the kernel must be one where
    // the ANSI composition (the session default) throws
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val rows =
      try {
        spark.conf.set("spark.sql.ansi.enabled", "false") // read at analysis
        corpus.toDF("x")
          .select($"x", graft.expressions.native.lenientDouble($"x"), lenientDoubleRegex($"x"))
          .collect().toSeq
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    // not vacuous: over a quarter of the corpus parses to a non-zero value
    assert(rows.count(r => r.getDouble(1) != 0.0) > corpus.size / 4)
    val diffs = rows.filter(r => bits(r.get(1)) != bits(r.get(2))).map(_.getString(0))
    // the inputs ANSI rejects: an exponent past Int, its scale
    // overflowing Int, a line terminator Java's parseDouble keeps
    (diffs.distinct :+ "0x1p99999999999").foreach { x =>
      withClue(s"input '$x' differs, yet the composition ran: ") {
        intercept[Exception](Seq(x).toDF("x").select(lenientDoubleRegex($"x")).collect())
      }
    }
    assert(diffs.size < corpus.size / 10, s"${diffs.size} diffs: ${diffs.take(10)}")
  }

  test("sha-256 kernels match a plain-JVM reference implementation") {
    import graft.expressions.Kernels
    // sha64 / sha64Hex vs MessageDigest computed here, independently
    for (s <- Seq("", "a", "hello world", "的 是 了")) {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val h = md.digest(s.getBytes("UTF-8"))
      val expectHex = h.take(8).map(b => f"${b & 0xff}%02x").mkString
      assert(Kernels.sha64Hex(s) == expectHex)
      assert(Kernels.sha64(s) == java.lang.Long.parseUnsignedLong(expectHex, 16))
    }
    // simhash64Sha: equal text -> equal hash, multiplicity matters
    val r = docs.select(Dedup.simhash64Sha($"text").as("a"),
      Dedup.simhash64Sha(concat($"text", lit(""))).as("b"))
      .where($"a" =!= $"b").count()
    assert(r == 0)
    // minhashSigSha: right arity, each entry 16 lowercase hex chars
    val sig = docs.limit(20).select(
      graft.expressions.native.minhashSigSha($"text", 3, 32).as("sig"))
      .collect().map(_.getSeq[String](0))
    sig.foreach { sg =>
      assert(sg.length == 32)
      sg.foreach(h => assert(h.matches("[0-9a-f]{16}")))
    }
  }

  test("extension function args validated: non-constant band count fails cleanly") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_lsh_sign(array(1.0f), CAST(col AS INT)) FROM (SELECT 16 AS col)")
        .collect()
    }
    assert(e.getMessage.contains("graft_lsh_sign"))
    // a plain BIGINT literal (the previously-crashing case) now works
    val ok = spark.sql("SELECT graft_lsh_sign(array(1.0f, -2.0f), CAST(8 AS BIGINT)) AS s")
      .head.getLong(0)
    assert(ok >= 0)
    // a wrong argument count or type fails analysis, naming the function,
    // instead of an index or cast error at execution (or an ignored arg)
    for ((q, fn) <- Seq(
        "SELECT graft_cosine(array(1.0d, 2.0d))" -> "graft_cosine",
        "SELECT graft_simhash64('hello world', 'x')" -> "graft_simhash64",
        "SELECT graft_cosine(array(1.0d, 2.0d), array(1.0d, 2.0d))" -> "graft_cosine",
        "SELECT graft_simhash64(42)" -> "graft_simhash64")) {
      val err = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(err.getMessage.contains(fn), q)
    }
  }

  test("every kernel: whole-stage codegen'd, interpreted == codegen, null in -> null out") {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.types._
    import graft.expressions.Kernel
    // a non-constant value of type t from the row id; `i` varies it
    // between arguments and elements. Every vector has 4 elements, so
    // embeddings and centroids line up.
    def sample(t: DataType, i: Int): String = t match {
      case StringType => s"concat('Doc ', id % ${i + 2}, ' the quick brown fox jumps ', id)"
      case BinaryType => "cast(repeat(concat('sketch', id), 4) AS BINARY)"
      case LongType => s"(id * ${i + 3})"
      case FloatType => s"cast(sin(id + $i) AS FLOAT)"
      case DoubleType => s"cos(id * ${i + 1})"
      case ArrayType(e, _) => (0 until 4).map(j => sample(e, i + j)).mkString("array(", ", ", ")")
      case StructType(fs) => fs.zipWithIndex
        .map { case (f, j) => s"'${f.name}', ${sample(f.dataType, i + j)}" }
        .mkString("named_struct(", ", ", ")")
      case other => fail(s"no sample value for $other")
    }
    // argument j is NULL on row j
    def run(k: Kernel): org.apache.spark.sql.DataFrame = {
      val args = k.argTypes.zipWithIndex.map { case (t, j) =>
        GraftColumnBridge.expression(expr(s"CASE WHEN id = $j THEN NULL ELSE ${sample(t, j)} END"))
      }
      spark.range(0, 8, 1, 2).select($"id",
        GraftColumnBridge.column(k.call(args, Seq.fill(k.consts)(3))).as("r"))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.collect().toSeq.map(r => (r.getLong(0), String.valueOf(r.get(1)))).sortBy(_._1)
    for (k <- Kernel.all) {
      val df = run(k)
      val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
      assert(code.contains(s"graft.expressions.Kernels.${k.method}("), s"${k.name} left codegen")
      val compiled = rows(df)
      val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      val interpreted =
        try {
          spark.conf.set(keys(0), "false")
          spark.conf.set(keys(1), "NO_CODEGEN")
          rows(run(k))
        } finally keys.foreach(spark.conf.unset)
      assert(interpreted == compiled, s"${k.name}: interpreted != codegen")
      compiled.foreach { case (id, r) =>
        assert((r == "null") == (id < k.argTypes.length), s"${k.name} row $id: $r")
      }
    }
  }

  test("SQL registration via SparkSessionExtensions") {
    // the shared test session is built with GraftExtensions
    val r = spark.sql("SELECT graft_simhash64('hello world') AS h").head.getLong(0)
    val c = Seq(("hello world")).toDF("t")
      .select(Dedup.simhash64($"t")).head.getLong(0)
    assert(r == c)
  }

  test("bloom probe == position-set composition; no false negatives on members") {
    val corpus = docs.where($"doc_id" <= 300)
    val idx = Dedup.bloomIndex(corpus)
    val got = Dedup.bloomProbe(idx, docs)
    // reference: all k positions ∈ the corpus's DISTINCT position set
    // (the definition the bitmap compresses — built-ins only)
    val cset = corpus
      .select(explode(Dedup.bloomPositions($"text")).as("p"))
      .agg(collect_set($"p").as("ps"))
    val ref = docs.crossJoin(broadcast(cset))
      .select($"doc_id",
        forall(Dedup.bloomPositions($"text"),
          p => array_contains($"ps", p)).as("want"))
    val diff = got.join(ref, "doc_id").where($"maybe_dup" =!= $"want").count()
    assert(diff == 0)
    // Bloom contract: a member can NEVER read false
    val fn = Dedup.bloomProbe(idx,
      corpus.select(($"doc_id" + 5000000L).as("doc_id"), $"text"))
      .where(!$"maybe_dup").count()
    assert(fn == 0)
  }

  test("bloom bitmap is row-order/partitioning/merge-shape invariant") {
    val corpus = docs.where($"doc_id" <= 300)
    def bits(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      Dedup.bloomIndex(df).head.getAs[Array[Byte]]("bitmap")
    val b1 = bits(corpus.repartition(1))
    val b32 = bits(corpus.repartition(32))
    val brev = bits(corpus.orderBy($"doc_id".desc).repartition(7))
    assert(java.util.Arrays.equals(b1, b32))
    assert(java.util.Arrays.equals(b1, brev))
    assert(b1.length == Dedup.bloomBits / 8)
  }

  test("bloom positions floorMod-wrap: -1 and mBits-1 set the same bit") {
    val m = Dedup.bloomBits
    val r = spark.sql(
      s"""SELECT graft_bloom_contains(b, array(CAST(${m - 1} AS BIGINT))) AS hi,
         |  graft_bloom_contains(b, array(CAST(${2L * m + 7} AS BIGINT))) AS wrap,
         |  graft_bloom_contains(b, array(CAST(7 AS BIGINT))) AS base,
         |  graft_bloom_contains(b, array(CAST(8 AS BIGINT))) AS miss,
         |  graft_bloom_contains(b, array()) AS empty
         |FROM (SELECT graft_bloom_agg(p, $m) AS b
         |      FROM (VALUES (CAST(-1 AS BIGINT)), (CAST(7 AS BIGINT))) v(p))
         |""".stripMargin).head()
    assert(r.getBoolean(0), "-1 wraps to bit mBits-1")
    assert(r.getBoolean(1), "2m+7 wraps to bit 7")
    assert(r.getBoolean(2))
    assert(!r.getBoolean(3), "unset bit reads false")
    assert(r.getBoolean(4), "empty position set is vacuously a member")
  }

  test("graft_bloom_agg validates its argument types cleanly") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT graft_bloom_agg(t, ${Dedup.bloomBits}) FROM (SELECT 'x' AS t)")
        .collect()
    }
    assert(e.getMessage.contains("graft_bloom_agg"))
  }

  test("cms: never underestimates, exact under no collisions, merge-shape invariant") {
    // tokens with known counts; indices = identity (idx = value) into
    // a 16-counter sketch — values 0..3 across 4 "seeds" of width 4
    // would collide; use a single-seed identity layout first
    val rows = (1 to 100).map(i => (i % 5).toLong) // counts: 0->20, 1..4->20 each
    val df = rows.toDF("v")
    // single index per row: no min, counter == count when no collision
    val sk = df.agg(graft.expressions.native.cmsAgg($"v", 16).as("sk"))
    val est = sk.select(
      graft.expressions.native.cmsEstimate($"sk", array(lit(0L))).as("e0"),
      graft.expressions.native.cmsEstimate($"sk", array(lit(3L))).as("e3"),
      graft.expressions.native.cmsEstimate($"sk", array(lit(9L))).as("e9"),
      graft.expressions.native.cmsEstimate($"sk",
        expr("CAST(array() AS ARRAY<BIGINT>)")).as("emp"))
      .head()
    assert(est.getLong(0) == 20L && est.getLong(1) == 20L)
    assert(est.getLong(2) == 0L, "untouched counter reads 0")
    assert(est.getLong(3) == 0L, "empty index set reads 0")
    // forced collisions: width 4 folds 0..4 -> {0,1,2,3} with 0 and 4
    // sharing counter 0 (floorMod): estimate(0) = 20 + 20 = 40 >= 20
    val skC = df.agg(graft.expressions.native.cmsAgg($"v", 4).as("sk"))
    val over = skC.select(
      graft.expressions.native.cmsEstimate($"sk", array(lit(0L))).as("e")).head().getLong(0)
    assert(over == 40L, "collision sums, never drops")
    // merge-shape invariance: sketch bytes identical across partitionings
    def bytes(n: Int): Array[Byte] =
      df.repartition(n).agg(graft.expressions.native.cmsAgg($"v", 16).as("sk"))
        .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(bytes(1), bytes(32)))
    // SQL registration + type validation
    val viaSql = spark.sql(
      "SELECT graft_cms_estimate(graft_cms_agg(CAST(v AS BIGINT), 16), array(CAST(1 AS BIGINT))) AS e " +
        "FROM (SELECT explode(sequence(1, 10)) AS v)").head().getLong(0)
    assert(viaSql == 1L)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_cms_agg(t, 16) FROM (SELECT 'x' AS t)").collect()
    }
    assert(err.getMessage.contains("graft_cms_agg"))
  }
}
