package graft.functions

import graft.SparkSpec
import graft.operators.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class BpeEncodePiecesSpec extends SparkSpec {

  import spark.implicits._

  private val us = "\u001f"

  /** The literal replace chain the kernel must reproduce: bar-wrapped
    * tokens, one `replace` of `|l||r|` by `|l␟r|` per merge in rank
    * order, (doc_id, n_tokens, n_pieces) per doc. Kept here as the
    * kernel's reference, never as a production path.
    */
  private def chainEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val rep0 = concat(lit("|"),
      array_join(split(trim(translate(col("text"), "|" + us, "")), " +"), "||"),
      lit("|"))
    val repN = merges.foldLeft(rep0) { case (c, (l, r)) =>
      replace(c, lit(s"|$l||$r|"), lit(s"|$l$us$r|"))
    }
    def pieces(rep: Column) = split(trim(rep, "|"), "\\|\\|")
    docs.select(col("doc_id"),
      size(pieces(rep0)).cast("long").as("n_tokens"),
      size(pieces(repN)).cast("long").as("n_pieces"))
  }

  test("kernel reproduces the replace chain on greedy runs, delimiters, chained merges") {
    val d = Seq(
      (1L, "a b a b c"),
      (2L, "a b c a b c"),
      (3L, "a a a a a"),     // greedy left-to-right: [aa][aa][a]
      (4L, s"x| y$us z"),    // delimiter chars stripped, not boundaries
      (5L, ""),              // empty text = one empty piece
      (6L, "q")              // single token, nothing to merge
    ).toDF("doc_id", "text")
    // chained merges: rank 2 consumes rank 1's merged token
    val merges = Seq(("a", "b"), (s"a${us}b", "c"), ("a", "a"), ("x", "y"))
    val native = TextAnalysis.bpeEncodeNative(d, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val chain = chainEncode(d, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(native == chain)
    assert(native(3L) == ((5L, 3L)))
    assert(native(5L) == ((1L, 1L)))
    // and the PIECES are right, not just the counts
    val pieces = d.where(col("doc_id") === 2L)
      .select(BpeEncodePieces(col("text"), merges).as("p"))
      .head().getSeq[String](0)
    assert(pieces == Seq(s"a${us}b${us}c", s"a${us}b${us}c"))
  }

  test("kernel matches the chain on non-ASCII tokens (combining marks, CJK, surrogate pairs)") {
    val composed = "caf\u00e9"          // precomposed e-acute
    val decomposed = "cafe\u0301"       // e + combining acute: DIFFERENT token
    val d = Seq(
      (1L, s"$composed au lait $composed au lait"),
      (2L, s"$decomposed au $decomposed au"),
      (3L, "\u65e5\u672c \u8a9e \u65e5\u672c \u8a9e"),  // CJK
      (4L, "\ud83d\ude00 x \ud83d\ude00 x")               // emoji surrogate pair
    ).toDF("doc_id", "text")
    val merges = Seq(
      (composed, "au"),
      ("\u65e5\u672c", "\u8a9e"), ("\ud83d\ude00", "x"))
    val native = TextAnalysis.bpeEncodeNative(d, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val chain = chainEncode(d, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(native == chain)
    assert(native(1L) == ((6L, 4L))) // composed-token merge fires twice
    assert(native(2L) == ((4L, 4L))) // decomposed token: NO hidden normalization
    assert(native(3L) == ((4L, 2L)))
    assert(native(4L) == ((4L, 2L)))
  }

  test("rank-order pass semantics, NOT min-rank-first re-check") {
    // merges 1:(ab,c), 2:(a,b) over [a b c]: pass 1 finds no "ab"
    // token, pass 2 yields [ab, c] — a classic BPE encode loop would
    // re-check after the (a,b) merge and collapse to [abc]
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    val merges = Seq((s"a${us}b", "c"), ("a", "b"))
    val native = TextAnalysis.bpeEncodeNative(d, merges).head()
    val chain = chainEncode(d, merges).head()
    assert(native.getLong(2) == 2L && chain.getLong(2) == 2L)
  }

  test("uncapped: a 5000-merge vocabulary runs under forced codegen; null stays null") {
    withSQLConf(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      // mostly-absent vocabulary: the multiset skip must make this
      // cheap; a handful of applicable merges scattered through it
      val vocab = (1 to 5000).map { i =>
        if (i == 1000) ("w1", "w2")
        else if (i == 4000) (s"w1${us}w2", "w3")
        else (s"v${i}a", s"v${i}b")
      }
      val d = Seq(Some("w1 w2 w3 tail"), Option.empty[String]).toDF("text")
        .select(lit(1L).as("doc_id"), col("text"))
      val out = d.select(
        BpeEncodePieces(col("text"), vocab).as("p")).collect()
      assert(out(0).getSeq[String](0) == Seq(s"w1${us}w2${us}w3", "tail"))
      assert(out(1).isNullAt(0))
    }
  }

  test("expressions with equal merge tables are value-equal (canonicalization works)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val m1 = Seq(("a", "b"), (s"a${us}b", "c"))
    val m2 = Seq(("a", "b"), (s"a${us}b", "c")) // distinct Seq instance
    val child = Literal.create("a b c", org.apache.spark.sql.types.StringType)
    val e1 = BpeEncodePieces(child, BpeMergeTable(m1))
    val e2 = BpeEncodePieces(child, BpeMergeTable(m2))
    assert(e1 == e2 && e1.semanticEquals(e2))
    assert(e1 != e1.copy(table = BpeMergeTable(m1.reverse)))
  }

  test("SQL registration: literal-table form equals the Column API; non-literal rejected") {
    graft.plans.GraftExtensions.register(spark)
    val merges = Seq(("a", "b"), (s"a${us}b", "c"))
    val litStr = BpeEncodePieces.tableToSql(merges)
    assert(BpeEncodePieces.parseTable(litStr) == merges)
    assert(BpeEncodePieces.parseTable("") == Nil)
    Seq((1L, "a b c d"), (2L, "c a b")).toDF("doc_id", "text")
      .createOrReplaceTempView("bpe_sql_test")
    val viaSql = spark.sql(
      s"SELECT doc_id, bpe_encode_pieces(text, '$litStr') AS p FROM bpe_sql_test")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaSql(1L) == Seq(s"a${us}b${us}c", "d"))
    assert(viaSql(2L) == Seq("c", s"a${us}b"))
    val err = intercept[Exception] {
      spark.sql("SELECT bpe_encode_pieces(text, text) FROM bpe_sql_test").collect()
    }
    assert(err.getMessage.contains("string literal"))
  }

  test("coverage report: merged-piece fraction, zero for out-of-vocab docs") {
    val d = Seq(
      (1L, "a b a b x"),   // merges fire twice: [ab][ab][x] -> 2/3 merged
      (2L, "p q r"),       // out-of-vocab: 0/3
      (3L, "a b")          // fully merged: 1/1
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bpeCoverage(d, Seq(("a", "b"))).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((3L, 2L, 2.0 / 3)))
    assert(r(2L) == ((3L, 0L, 0.0)))
    assert(r(3L) == ((1L, 1L, 1.0)))
  }

  test("bpeVocab: top-k encoded pieces with stable ids, merged flag, hand-computed") {
    val d = Seq(
      (1L, "a b a b x"), // encodes to [a•b][a•b][x]
      (2L, "x y a b")    // [x][y][a•b]
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bpeVocab(d, Seq(("a", "b")), k = 3).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getBoolean(3)))
    // counts: a•b -> 3, x -> 2, y -> 1; ids by (n desc, piece asc)
    assert(r.toSeq == Seq(
      (0L, s"a${us}b", 3L, true),
      (1L, "x", 2L, false),
      (2L, "y", 1L, false)))
    // k truncates below the tail
    assert(TextAnalysis.bpeVocab(d, Seq(("a", "b")), k = 2).count() == 2)
  }

  test("bpeEncodeIds: hand-computed ids, OOV sentinel, SQL form, one kernel eval") {
    val d = Seq(
      (1L, "a b a b x"), // pieces [a•b][a•b][x]
      (2L, "z z"),       // fully OOV
      (3L, "")           // one empty piece — OOV
    ).toDF("doc_id", "text")
    val merges = Seq(("a", "b"))
    val vocab = Seq(s"a${us}b", "x") // ids 0, 1
    val r = TextAnalysis.bpeEncodeIdsReport(d, merges, vocab).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(1L) == ((3L, 0L, "0 0 1")))
    assert(r(2L) == ((2L, 2L, "-1 -1")))
    assert(r(3L) == ((1L, 1L, "-1")))
    // ids agree with mapping bpeVocab's own pieces through itself:
    // every vocab piece round-trips to its id
    val vdf = TextAnalysis.bpeVocab(d, merges, k = 10).collect()
    val pieces = vdf.map(_.getString(1)).toSeq
    val direct = d.select(BpeEncodeIds(col("text"), merges, pieces).as("ids"),
        BpeEncodePieces(col("text"), merges).as("ps"))
      .collect()
    direct.foreach { row =>
      val ids = row.getSeq[Long](0); val ps = row.getSeq[String](1)
      ids.zip(ps).foreach { case (id, p) =>
        if (id >= 0) assert(pieces(id.toInt) == p) else assert(!pieces.contains(p))
      }
    }
    // SQL registration: literal merges + vocab
    graft.plans.GraftExtensions.register(spark)
    d.createOrReplaceTempView("bpe_ids_sql_test")
    val litM = BpeEncodePieces.tableToSql(merges)
    val litV = vocab.mkString("|,|")
    val viaSql = spark.sql(
      s"SELECT doc_id, bpe_encode_ids(text, '$litM', '$litV') AS ids " +
        "FROM bpe_ids_sql_test")
      .collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
    assert(viaSql(1L) == Seq(0L, 0L, 1L))
    assert(viaSql(2L) == Seq(-1L, -1L))
    // kernel evaluated once per row in the report wrapper — over a
    // real scan (a LocalRelation input would be constant-folded away
    // by ConvertToLocalRelation and show zero kernel occurrences)
    val scan = spark.read.parquet(s"$Sf0001/documents.parquet")
    val out = TextAnalysis.bpeEncodeIdsReport(scan, merges, vocab)
    out.collect()
    val occurrences = "bpe_encode_ids".r
      .findAllIn(out.queryExecution.executedPlan.toString).length
    assert(occurrences == 1)
    // duplicate vocab piece: first (lowest id) wins
    assert(BpeVocabTable(Seq("p", "p")).idIndex.get("p") == java.lang.Long.valueOf(0L))
  }

  test("bpeDecodeIds round-trips: merged pieces unfold, OOV renders <unk>, lossless flag exact") {
    val d = Seq(
      (1L, "a b a b x"),   // fully in-vocab -> lossless
      (2L, "z z"),         // fully OOV -> '<unk> <unk>', not lossless
      (3L, "  a   b  x ")  // messy spacing: decode equals the NORMALIZED source
    ).toDF("doc_id", "text")
    val merges = Seq(("a", "b"))
    val vocab = Seq(s"a${us}b", "x")
    val r = TextAnalysis.bpeRoundTrip(d, merges, vocab).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getBoolean(3)))
      .toMap
    assert(r(1L) == (("a b a b x", 0L, true)))
    assert(r(2L) == (("<unk> <unk>", 2L, false)))
    assert(r(3L) == (("a b x", 0L, true)))
    // the structural property: ZERO-OOV docs always round-trip over a
    // real corpus + its own trained table and vocabulary
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val m = TextAnalysis.bpeTrain(docs, 5).orderBy("rank")
      .collect().map(x => (x.getString(1), x.getString(2))).toSeq
    val fullVocab = docs
      .select(explode(BpeEncodePieces(col("text"), m)).as("p"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val rt = TextAnalysis.bpeRoundTrip(docs, m, fullVocab)
    assert(rt.where(!col("lossless") || col("n_unk") =!= 0).count() == 0)
  }

  test("bpeAnnotate evaluates the kernel ONCE (CollapseProject must not duplicate it)") {
    val d = spark.read.parquet(s"$Sf0001/documents.parquet")
    val out = TextAnalysis.bpeAnnotate(d, Seq(("a", "b")))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    val occurrences = "bpe_encode_pieces".r.findAllIn(plan).length
    assert(occurrences == 1,
      s"kernel must run once per row, plan evaluates it $occurrences times: " +
        plan.take(1200))
  }

  test("30k-merge production vocabulary: absent merges are exact no-ops, and the run is measured") {
    // the scale claim in one test: a production-size table (100
    // trained merges + 29,900 absent ones) must produce EXACTLY the
    // trained-table result — absent merges skip via the occurrence
    // multiset — and the wall cost of carrying them is measured, not
    // asserted (host-dependent); the printed number feeds the survey
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val trained = TextAnalysis.bpeTrain(docs, 20).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = trained ++ (1 to 29980).map(i => (s"zzz${i}a", s"zzz${i}b"))
    assert(vocab.size == 30000)
    val small = TextAnalysis.bpeEncodeNative(docs, trained)
      .collect().map(_.toString).sorted
    val t0 = System.nanoTime()
    val big = TextAnalysis.bpeEncodeNative(docs, vocab)
      .collect().map(_.toString).sorted
    val wall = (System.nanoTime() - t0) / 1e9
    info(f"30k-merge encode over ${small.length} docs: $wall%.2f s")
    assert(big.sameElements(small))
  }

  test("matches the chain on trained merges over real documents") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val m = TextAnalysis.bpeTrain(docs, 5).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val native = TextAnalysis.bpeEncodeNative(docs, m)
      .orderBy("doc_id").collect().map(_.toString)
    val chain = chainEncode(docs, m)
      .orderBy("doc_id").collect().map(_.toString)
    assert(native.length > 0 && native.sameElements(chain))
  }
}
