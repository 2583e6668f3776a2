package graft

import graft.config.{PipelineLoader, SourceSpec, StepSpec}
import org.apache.spark.sql.functions._

class PipelineRunSpec extends SparkSpec {

  private val docsPath = s"$Sf0001/documents.parquet"

  test("pipeline yaml parses to the validated spec, preserving step and weight order") {
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: filter_stack
         |    - kind: redact_pii
         |    - kind: dedup_exact
         |    - kind: split
         |      weights: {train: 0.8, val: 0.1, test: 0.1}
         |      leakage_safe: false
         |  output: {path: /tmp/pipe_out, format: parquet}
         |""".stripMargin)
    assert(spec.input.source == SourceSpec.File("parquet", docsPath, None))
    assert(spec.steps == Seq(
      StepSpec.FilterStack,
      StepSpec.RedactPii("text"),
      StepSpec.DedupExact("doc_id", "text"),
      StepSpec.Split(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        "split", leakageSafe = false)))
    assert(spec.output.exists(o => o.path == "/tmp/pipe_out" && o.format == "parquet"))
  }

  test("pipeline yaml fails fast on unknown kinds, empty steps, bad weights") {
    def bad(y: String): String =
      intercept[IllegalArgumentException](PipelineLoader.fromYaml(y)).getMessage
    val head =
      s"pipeline:\n  input:\n    db: {type: parquet, path: $docsPath}\n"
    assert(bad(head + "  steps: []").contains("non-empty"))
    assert(bad(head + "  steps:\n    - kind: frobnicate").contains("unknown kind"))
    assert(bad(head + "  steps:\n    - kind: split\n      weights: {a: -1.0}")
      .contains("positive"))
    assert(bad(head + "  steps:\n    - kind: source_cap\n      k: 0").contains("positive"))
    assert(bad("compare: {}").contains("missing required field 'pipeline'")
      || bad("compare: {}").contains("pipeline"))
  }

  test("pipeline run equals the hand-composed operator chain") {
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: filter_stack
         |    - kind: dedup_exact
         |    - kind: split
         |      weights: {train: 0.5, test: 0.5}
         |""".stripMargin)
    val got = Pipeline.run(spark, spec)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    val docs = spark.read.parquet(docsPath)
    val kept = docs.join(
      graft.operators.TextAnalysis.filterStack(docs)
        .where(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val deduped = kept.join(
      kept.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val expect = graft.operators.Sampling
      .hashSplit(deduped, col("doc_id"), Seq("train" -> 0.5, "test" -> 0.5))
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    assert(got == expect && got.nonEmpty)
    assert(got.size < docs.count()) // the filter and dedup really dropped rows
  }

  test("filter_stack step filters its input in place: one scan, no join") {
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: filter_stack
         |""".stripMargin)
    val out = Pipeline.run(spark, spec)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.split("FileScan").length == 2, s"expected one scan:\n$plan")
    assert(!plan.contains("Join"), plan)
    val docs = spark.read.parquet(docsPath)
    val want = graft.operators.TextAnalysis.filterStack(docs)
      .where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == want)
    assert(out.columns.toSeq == docs.columns.toSeq)
  }

  test("decontaminate bloom: parses, equals the hand bloom drop, supersets exact") {
    val benchDir = java.nio.file.Files.createTempDirectory("graft-bench").toString
    val docs = spark.read.parquet(docsPath)
    docs.orderBy("doc_id").limit(5).write.mode("overwrite").parquet(benchDir)
    def yaml(bloomLine: String) =
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: decontaminate
         |      max_hits: 0$bloomLine
         |      bench:
         |        db: {type: parquet, path: $benchDir}
         |""".stripMargin
    val spec = PipelineLoader.fromYaml(yaml("\n      bloom: true"))
    assert(spec.steps.size == 1 &&
      spec.steps.head.asInstanceOf[StepSpec.Decontaminate].bloom)
    // default stays exact: bloom omitted => false
    assert(!PipelineLoader.fromYaml(yaml("")).steps.head
      .asInstanceOf[StepSpec.Decontaminate].bloom)

    val bench = spark.read.parquet(benchDir)
    val expect = docs.join(
      graft.operators.Curation.decontaminateBloom(docs, bench)
        .where(col("bench_hits") > 0).select("doc_id"),
      Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Pipeline.run(spark, spec)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty)
    // one-sided error: the bloom form never KEEPS a doc the exact form
    // would drop (its flagged set is a superset), and the seeded
    // benchmark docs themselves are always flagged out
    val exactKept = docs.join(
      graft.operators.Curation.decontaminate(docs, bench)
        .where(col("bench_hits") > 0).select("doc_id"),
      Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(exactKept))
    assert(bench.select("doc_id").collect().map(_.getLong(0)).forall(!got.contains(_)))
  }

  test("decontaminate_rewrite step: spans removed in place, kept-token floor drops hollow docs") {
    val benchDir = java.nio.file.Files.createTempDirectory("graft-bench-rw").toString
    val docs = spark.read.parquet(docsPath)
    docs.orderBy("doc_id").limit(5).write.mode("overwrite").parquet(benchDir)
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: decontaminate_rewrite
         |      min_kept_tokens: 5
         |      bench:
         |        db: {type: parquet, path: $benchDir}
         |""".stripMargin)
    assert(spec.steps.head.asInstanceOf[StepSpec.DecontaminateRewrite]
      .minKeptTokens == 5L)
    val got = Pipeline.run(spark, spec)
    // schema-stable: same columns as the input, text rewritten in place
    assert(got.columns.sameElements(docs.columns))
    val bench = spark.read.parquet(benchDir)
    val rw = graft.operators.Curation.decontaminateRewrite(docs, bench)
    val expect = rw
      .where(col("n_tokens") - col("cut_tokens") >= 5L)
      .select(col("doc_id"), col("text_clean")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val gotMap = got.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotMap == expect && gotMap.nonEmpty)
    // the seeded bench docs leak ENTIRELY (they are verbatim benchmark
    // items): their rewrite hollows out below the floor and they drop
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(benchIds.forall(!gotMap.contains(_)))
    // default floor is 1 kept token
    val d = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: decontaminate_rewrite
         |      bench:
         |        db: {type: parquet, path: $benchDir}
         |""".stripMargin)
    assert(d.steps.head.asInstanceOf[StepSpec.DecontaminateRewrite]
      .minKeptTokens == 1L)
  }

  test("dedup_span_rewrite step: in-place C4 rewrite, block floor, bounds validated") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-spanrw").toString
    // doc 1 owns the block; doc 2 repeats it plus its own tail block;
    // doc 3 is ONLY the duplicated block and must drop at the floor
    val blk = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq((1L, blk, "en", "a", 1L),
        (2L, s"$blk unique tail content here", "en", "a", 1L),
        (3L, blk, "en", "a", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir)
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $dir}
         |  steps:
         |    - kind: dedup_span_rewrite
         |      block_tokens: 20
         |""".stripMargin)
    val got = Pipeline.run(spark, spec).orderBy("doc_id")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // schema-stable columns; doc 1 keeps the block, doc 2 keeps only
    // its unique tail, doc 3 (all duplicated) dropped by the floor
    assert(got == Map(1L -> blk, 2L -> "unique tail content here"))
    // bounds fail fast
    intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $dir}
         |  steps:
         |    - kind: dedup_span_rewrite
         |      block_tokens: 0
         |""".stripMargin))
  }

  test("lm_filter step: parses, bounds validated, equals the hand semi-join") {
    def bad(y: String): String =
      intercept[IllegalArgumentException](PipelineLoader.fromYaml(y)).getMessage
    assert(bad(
      s"pipeline:\n  input:\n    db: {type: parquet, path: $docsPath}\n" +
        "  steps:\n    - kind: lm_filter\n      min_ppm: 9\n      max_ppm: 3")
      .contains("min_ppm <= max_ppm"))

    // cut at the corpus median score so the filter provably bites
    val docs = spark.read.parquet(docsPath)
    val plan = graft.operators.TextAnalysis.lmScorePlan(docs)
    val cut = plan.df.agg(
      expr("percentile(lm_score_ppm, 0.5)")).head().getDouble(0).toLong
    val expect = plan.df.where(col("lm_score_ppm") >= cut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    plan.release()

    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: lm_filter
         |      min_ppm: $cut
         |""".stripMargin)
    assert(spec.steps == Seq(StepSpec.LmFilter(cut, Long.MaxValue)))
    val got = Pipeline.run(spark, spec).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty)
    assert(got.size < docs.count()) // the below-median tail really dropped
  }

  test("sampler steps: parse, bounds validated, equal the hand operator calls") {
    def bad(y: String): String =
      intercept[IllegalArgumentException](PipelineLoader.fromYaml(y)).getMessage
    val head =
      s"pipeline:\n  input:\n    db: {type: parquet, path: $docsPath}\n"
    assert(bad(head + "  steps:\n    - kind: temperature\n      alpha: 1.5")
      .contains("alpha"))
    assert(bad(head + "  steps:\n    - kind: stratified\n      frac: 0.0")
      .contains("frac"))
    assert(bad(head + "  steps:\n    - kind: stratified").contains("frac"))
    assert(bad(head + "  steps:\n    - kind: kfold\n      k: 1").contains("k must"))
    assert(bad(head + "  steps:\n    - kind: quality_normalize\n      min_pct: 1.0")
      .contains("min_pct"))

    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: temperature
         |      alpha: 0.5
         |    - kind: stratified
         |      frac: 0.5
         |      salt: s1
         |    - kind: quality_normalize
         |      min_pct: 0.25
         |    - kind: kfold
         |      k: 5
         |""".stripMargin)
    assert(spec.steps == Seq(
      StepSpec.Temperature("source", "doc_id", 0.5, "temp"),
      StepSpec.Stratified("source", "doc_id", 0.5, "s1"),
      StepSpec.QualityNormalize("source", "n_chars", "doc_id", 0.25),
      StepSpec.Kfold("doc_id", 5, "fold")))

    val docs = spark.read.parquet(docsPath)
    import graft.operators.Sampling
    val t = Sampling.temperatureSample(docs, col("source"), col("doc_id"))
    val st = Sampling.stratifiedSample(t, col("source"), col("doc_id"), 0.5, "s1")
    val qn = st.join(
      Sampling.qualityNormalize(st, col("source"), col("n_chars"))
        .select(col("doc_id"), col("pct_rank")), Seq("doc_id"))
      .where(col("pct_rank") >= 0.25)
    val expect = Sampling.kfold(qn, col("doc_id"), 5)
      .select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val out = Pipeline.run(spark, spec)
    // the annotation steps added their columns
    assert(out.columns.contains("pct_rank") && out.columns.contains("fold"))
    val got = out.select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect && got.nonEmpty)
    assert(got.size < docs.count()) // the two samplers really thinned
    // the funnel reports the new step names
    val funnel = Pipeline.funnel(spark, spec)
      .select("step").collect().map(_.getString(0)).toSeq
    assert(funnel == Seq("input", "temperature", "stratified",
      "quality_normalize", "kfold"))
  }

  test("normalize_text step: parses, validates form, equals the hand operator, dedup sees it") {
    def bad(y: String): String =
      intercept[IllegalArgumentException](PipelineLoader.fromYaml(y)).getMessage
    val head =
      s"pipeline:\n  input:\n    db: {type: parquet, path: $docsPath}\n"
    assert(bad(head + "  steps:\n    - kind: normalize_text\n      form: NFX")
      .contains("form"))

    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: normalize_text
         |      form: NFC
         |    - kind: dedup_exact
         |""".stripMargin)
    assert(spec.steps == Seq(
      StepSpec.NormalizeText("text", "NFC"), StepSpec.DedupExact("doc_id", "text")))

    // two visually-identical docs differing only in composition must
    // collapse to ONE after normalize_text + dedup_exact
    import spark.implicits._
    val twins = Seq(
      (1L, "caf\u00e9 culture", "w"), (2L, "cafe\u0301 culture", "w"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("norm_step").toString
    twins.write.mode("overwrite").parquet(s"$tmp/docs")
    val spec2 = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $tmp/docs}
         |  steps:
         |    - kind: normalize_text
         |    - kind: dedup_exact
         |""".stripMargin)
    val out = Pipeline.run(spark, spec2).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
    // without normalization the same dedup keeps both
    val specNoNorm = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $tmp/docs}
         |  steps:
         |    - kind: dedup_exact
         |""".stripMargin)
    assert(Pipeline.run(spark, specNoNorm).count() == 2)
    // hand equality over the real corpus
    val docs = spark.read.parquet(docsPath)
    val hand = graft.operators.TextAnalysis.normalizeText(docs, "text", "NFC")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Pipeline.run(spark, PipelineLoader.fromYaml(
      head + "  steps:\n    - kind: normalize_text\n"))
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == hand && got.nonEmpty)
    // funnel includes the step by name
    val funnel = Pipeline.funnel(spark, spec2)
      .select("step").collect().map(_.getString(0)).toSeq
    assert(funnel == Seq("input", "normalize_text", "dedup_exact"))
  }

  test("training-prep steps: parse validation, hand equality, funnel names") {
    def bad(y: String): String =
      intercept[IllegalArgumentException](PipelineLoader.fromYaml(y)).getMessage
    val head =
      s"pipeline:\n  input:\n    db: {type: parquet, path: $docsPath}\n"
    assert(bad(head + "  steps:\n    - kind: mixture").contains("weights"))
    assert(bad(head + "  steps:\n    - kind: mixture\n      weights: {a: -1}")
      .contains("positive"))
    assert(bad(head + "  steps:\n    - kind: fixed_k\n      k: 0")
      .contains("k must be positive"))
    assert(bad(head + "  steps:\n    - kind: epoch_order\n      epoch: -1")
      .contains("epoch"))
    assert(bad(head + "  steps:\n    - kind: pack").contains("capacity"))
    assert(bad(head + "  steps:\n    - kind: pack\n      capacity: 0")
      .contains("capacity"))
    assert(bad(head + "  steps:\n    - kind: k_anon_suppress\n      k: 5")
      .contains("quasi_cols"))
    assert(bad(head +
      "  steps:\n    - kind: k_anon_suppress\n      k: 1\n      quasi_cols: [lang]")
      .contains("k must be >= 2"))
    assert(bad(head + "  steps:\n    - kind: l_diversity_suppress\n      l: 2")
      .contains("quasi_cols"))
    assert(bad(head +
      "  steps:\n    - kind: l_diversity_suppress\n      l: 2\n      quasi_cols: [lang]")
      .contains("sensitive_col"))
    assert(bad(head + "  steps:\n    - kind: l_diversity_suppress\n" +
      "      l: 1\n      quasi_cols: [lang]\n      sensitive_col: source")
      .contains("l must be >= 2"))

    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: k_anon_suppress
         |      quasi_cols: [source, lang]
         |      k: 3
         |    - kind: mixture
         |      weights: {src0: 0.5, src1: 0.25}
         |    - kind: quality_normalize
         |      min_pct: 0.0
         |    - kind: quality_weighted
         |      score_col: pct_rank
         |    - kind: fixed_k
         |      k: 10
         |    - kind: epoch_order
         |      epoch: 2
         |      shards: 4
         |    - kind: pack
         |      capacity: 2000
         |      shards: 4
         |""".stripMargin)
    assert(spec.steps == Seq(
      StepSpec.KAnonSuppress(Seq("source", "lang"), 3L),
      StepSpec.Mixture("source", "doc_id", Seq("src0" -> 0.5, "src1" -> 0.25), "mix"),
      StepSpec.QualityNormalize("source", "n_chars", "doc_id", 0.0),
      StepSpec.QualityWeighted("doc_id", "pct_rank", "qw"),
      StepSpec.FixedK("doc_id", 10, "fixedk"),
      StepSpec.EpochOrder("doc_id", 2, 4, "epoch"),
      StepSpec.Pack("doc_id", "n_chars", 2000L, 4, "pack")))

    import graft.operators.Sampling
    val docs = spark.read.parquet(docsPath)
    // hand composition, step by step (the window form of the k-anon
    // suppression must equal the operator's violating-group contract)
    val viol = graft.operators.Curation
      .kAnonymityViolations(docs, Seq(col("source"), col("lang")), 3L)
      .select(col("source"), col("lang"))
    val ka = docs.join(viol, Seq("source", "lang"), "left_anti")
    val mixed = Sampling.mixtureSample(ka, col("source"), col("doc_id"),
      Seq("src0" -> 0.5, "src1" -> 0.25))
    val qn = mixed.join(
      Sampling.qualityNormalize(mixed, col("source"), col("n_chars"))
        .select(col("doc_id"), col("pct_rank")), Seq("doc_id"))
    val qw = Sampling.qualityWeightedSample(qn, col("doc_id"), col("pct_rank"))
    val fk = Sampling.fixedK(qw, col("doc_id"), 10)
    val eo = Sampling.epochOrder(fk, col("doc_id"), 2, 4)
    // pack after epoch_order bins the READER ORDER: cumulative tokens
    // within the epoch shard ordered by pos (never a second shard)
    val wPack = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expect = eo
      .withColumn("bin",
        floor(coalesce(sum(col("n_chars")).over(wPack), lit(0L)) / 2000L)
          .cast("long"))
      .select("doc_id", "pos", "shard", "bin").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    val out = Pipeline.run(spark, spec)
    assert(Seq("pct_rank", "pos", "shard", "bin").forall(out.columns.contains))
    val got = out.select("doc_id", "pos", "shard", "bin").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect && got.size == 10) // fixed_k's exact-size contract
    // the (shard, pos) layout is COHERENT: pos values are a
    // 1..n permutation within each shard (the property the old
    // re-sharding pack silently destroyed)
    got.values.groupBy(_._2).foreach { case (_, inShard) =>
      val ps = inShard.map(_._1).toSeq.sorted
      assert(ps == (1L to ps.length).toSeq, s"pos not a permutation: $ps")
    }
    // only the whitelisted mixture sources survive
    val srcs = out.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(srcs.subsetOf(Set("src0", "src1")))
    // funnel reports every new step by name
    val funnel = Pipeline.funnel(spark, spec)
      .select("step").collect().map(_.getString(0)).toSeq
    assert(funnel == Seq("input", "k_anon_suppress", "mixture",
      "quality_normalize", "quality_weighted", "fixed_k", "epoch_order", "pack"))
  }

  test("upsample step: parses with mixture-style validation, equals the operator call") {
    def bad(y: String): String =
      intercept[IllegalArgumentException](PipelineLoader.fromYaml(y)).getMessage
    val head =
      s"pipeline:\n  input:\n    db: {type: parquet, path: $docsPath}\n"
    assert(bad(head + "  steps:\n    - kind: upsample").contains("weights"))
    assert(bad(head + "  steps:\n    - kind: upsample\n      weights: {a: -1}")
      .contains("positive"))
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: upsample
         |      weights: {src0: 2.5, src1: 1.0}
         |""".stripMargin)
    assert(spec.steps == Seq(StepSpec.Upsample("source", "doc_id",
      Seq("src0" -> 2.5, "src1" -> 1.0), "upsample")))
    val docs = spark.read.parquet(docsPath)
    val expect = graft.operators.Sampling
      .upsampleMixture(docs, col("source"), col("doc_id"),
        Seq("src0" -> 2.5, "src1" -> 1.0))
      .select("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Pipeline.run(spark, spec).select("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && got.nonEmpty)
    // genuinely upsampled: more output rows than surviving input docs
    assert(got.size > got.map(_._1).size)
    val funnel = Pipeline.funnel(spark, spec)
      .select("step").collect().map(_.getString(0)).toSeq
    assert(funnel == Seq("input", "upsample"))
  }

  test("l_diversity_suppress step: window form equals the operator's violating-group contract") {
    import graft.config.{PipelineSpec, SideSpec, SourceSpec}
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: l_diversity_suppress
         |      quasi_cols: [source]
         |      sensitive_col: lang
         |      l: 5
         |""".stripMargin)
    assert(spec.steps == Seq(
      StepSpec.LDiversitySuppress(Seq("source"), "lang", 5L)))
    val docs = spark.read.parquet(docsPath)
    val viol = graft.operators.Curation
      .lDiversityViolations(docs, Seq(col("source")), col("lang"), 5L)
      .select(col("source"))
    val expect = docs.join(viol, Seq("source"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Pipeline.run(spark, spec)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
    // the suppression actually bites on the fixture (or the test is vacuous)
    val total = docs.count()
    assert(got.nonEmpty && got.size < total, s"${got.size} of $total")
    // funnel reports the step by name
    val funnel = Pipeline.funnel(spark, spec)
      .select("step").collect().map(_.getString(0)).toSeq
    assert(funnel == Seq("input", "l_diversity_suppress"))
  }

  test("funnel: hand-computed per-step retention, stage caches released") {
    import spark.implicits._
    import graft.config.{PipelineSpec, SideSpec, SourceSpec}
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    Seq((1L, "t1", "s1"), (2L, "t1", "s1"), (3L, "t2", "s1"), (4L, "t3", "s2"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/docs")
    val spec = PipelineSpec(
      input = SideSpec("d", SourceSpec.File("parquet", s"$dir/docs", None)),
      steps = Seq(
        StepSpec.DedupExact("doc_id", "text"),
        StepSpec.SourceCap("source", 1),
        StepSpec.Split(Seq("train" -> 0.5, "test" -> 0.5), "split", leakageSafe = false)),
      output = None)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Pipeline.funnel(spark, spec).orderBy("step_idx").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    // doc 2 is an exact copy of 1; s1 caps {1,3} to one keeper; split keeps all
    assert(r.toSeq == Seq(
      (0, "input", 4L, 4L, 0L),
      (1, "dedup_exact", 4L, 3L, 250000L),
      (2, "source_cap", 3L, 2L, 333333L),
      (3, "split", 2L, 2L, 0L)))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"funnel leaked stage caches: $leaked")
  }

  test("every pipeline example yaml in examples/ parses to a valid spec") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get("examples")
    val yamls = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.toString).filter(_.endsWith(".yaml"))
      .filter(p => java.nio.file.Files.readString(
        java.nio.file.Paths.get(p)).contains("pipeline:"))
      .toSeq.sorted
    assert(yamls.nonEmpty)
    yamls.foreach { p =>
      val spec = PipelineLoader.load(p)
      assert(spec.steps.nonEmpty, p)
    }
  }

  test("pipeline execute writes the sink and round-trips") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipe").toString + "/o"
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: source_cap
         |      k: 3
         |  output: {path: $out, format: parquet}
         |""".stripMargin)
    val df = Pipeline.execute(spark, spec)
    val read = spark.read.parquet(out)
    assert(read.count() == df.count() && read.count() > 0)
    // cap honored per source
    val mx = read.groupBy("source").count().agg(max("count")).head().getLong(0)
    assert(mx <= 3)
  }

  test("bpe_annotate step: trained side table applied, metrics match the operator pair") {
    val docs = spark.read.parquet(docsPath)
    val tableDir = java.nio.file.Files.createTempDirectory("graft-bpe").toString + "/t"
    graft.operators.TextAnalysis.bpeTrain(docs, 3).write.parquet(tableDir)
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: bpe_annotate
         |      table:
         |        db: {type: parquet, path: $tableDir}
         |""".stripMargin)
    assert(spec.steps.size == 1 && spec.steps.head.isInstanceOf[StepSpec.BpeAnnotate])
    val got = Pipeline.run(spark, spec)
    // schema-stable: original columns survive, metrics ride along
    assert(docs.columns.toSet.subsetOf(got.columns.toSet))
    assert(Set("n_tokens", "n_pieces", "merged_frac").subsetOf(got.columns.toSet))
    val m = graft.operators.TextAnalysis.bpeTrain(docs, 3).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val expect = graft.operators.TextAnalysis.bpeEncodeNative(docs, m)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gotMap = got.select(col("doc_id"), col("n_tokens"), col("n_pieces"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotMap == expect && gotMap.nonEmpty)
    // coverage column agrees with the report operator
    val cov = graft.operators.TextAnalysis.bpeCoverage(docs, m)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val gotCov = got.select(col("doc_id"), col("merged_frac"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotCov == cov)
  }

  test("bpe_train step: side-output table, pass-through frame, train->annotate from one config") {
    val docs = spark.read.parquet(docsPath)
    val tableDir = java.nio.file.Files.createTempDirectory("graft-bpe-train").toString + "/t"
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: bpe_train
         |      merges: 3
         |      path: $tableDir
         |    - kind: bpe_annotate
         |      table:
         |        db: {type: parquet, path: $tableDir}
         |""".stripMargin)
    assert(spec.steps.head == StepSpec.BpeTrain(3, "text", "doc_id", tableDir, None))
    val got = Pipeline.run(spark, spec)
    // pass-through + annotation: original columns survive, metrics ride
    assert(docs.columns.toSet.subsetOf(got.columns.toSet))
    assert(got.count() == docs.count())
    // the side table on disk IS bpeTrain's output
    val written = spark.read.parquet(tableDir).orderBy("rank")
      .collect().map(_.toString)
    val direct = graft.operators.TextAnalysis.bpeTrain(docs, 3).orderBy("rank")
      .collect().map(_.toString)
    assert(written.length == 3 && written.sameElements(direct))
    // and the annotation used exactly that table
    val trained = graft.operators.TextAnalysis.bpeTrain(docs, 3).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val expect = graft.operators.TextAnalysis.bpeEncodeNative(docs, trained)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val gotMap = got.select(col("doc_id"), col("n_tokens"), col("n_pieces"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotMap == expect)

    // sampled variant: trains on the fixed-k hash sample
    val tableDir2 = java.nio.file.Files.createTempDirectory("graft-bpe-train2").toString + "/t"
    val spec2 = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: bpe_train
         |      merges: 2
         |      sample_k: 200
         |      key_col: doc_id
         |      path: $tableDir2
         |""".stripMargin)
    assert(spec2.steps == Seq(StepSpec.BpeTrain(2, "text", "doc_id", tableDir2, Some(200))))
    Pipeline.run(spark, spec2).count()
    val sampled = spark.read.parquet(tableDir2).orderBy("rank")
      .collect().map(_.toString)
    val directSampled = graft.operators.TextAnalysis.bpeTrain(
        graft.operators.Sampling.fixedK(docs, col("doc_id"), 200, "bpe"), 2)
      .orderBy("rank").collect().map(_.toString)
    assert(sampled.sameElements(directSampled))

    // parse validation fails fast
    def bad(yaml: String, needle: String): Unit = {
      val msg = intercept[IllegalArgumentException](
        PipelineLoader.fromYaml(yaml)).getMessage
      assert(msg.contains(needle), s"'$msg' should mention '$needle'")
    }
    bad(s"""pipeline:
           |  input:
           |    db: {type: parquet, path: $docsPath}
           |  steps:
           |    - kind: bpe_train
           |      merges: 3
           |""".stripMargin, "path")
    bad(s"""pipeline:
           |  input:
           |    db: {type: parquet, path: $docsPath}
           |  steps:
           |    - kind: bpe_train
           |      merges: 101
           |      path: /tmp/x
           |""".stripMargin, "[1, 100]")
    bad(s"""pipeline:
           |  input:
           |    db: {type: parquet, path: $docsPath}
           |  steps:
           |    - kind: bpe_train
           |      sample_k: 0
           |      path: /tmp/x
           |""".stripMargin, "sample_k")
  }

  test("bpe_annotate step: mode min_rank applies the classic loop; bad mode fails at parse") {
    val docs = spark.read.parquet(docsPath)
    val tableDir = java.nio.file.Files.createTempDirectory("graft-bpe-mr").toString + "/t"
    // an external-style table with a cascade — the case the mode exists for
    import spark.implicits._
    Seq((1L, "tablehash", "value"), (2L, "table", "hash"))
      .toDF("rank", "left_tok", "right_tok").write.parquet(tableDir)
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: bpe_annotate
         |      table:
         |        db: {type: parquet, path: $tableDir}
         |      mode: min_rank
         |""".stripMargin)
    assert(spec.steps == Seq(StepSpec.BpeAnnotate(
      spec.steps.head.asInstanceOf[StepSpec.BpeAnnotate].table, "text", true)))
    val got = Pipeline.run(spark, spec)
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expect = graft.operators.TextAnalysis.bpeEncodeMinRank(docs,
        Seq(("tablehash", "value"), ("table", "hash")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect && got.nonEmpty)
    // the cascade actually fired somewhere (min_rank < passes pieces)
    val passes = graft.operators.TextAnalysis.bpeEncodeNative(docs,
        Seq(("tablehash", "value"), ("table", "hash")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.exists { case (id, (_, np)) => np < passes(id) },
      "fixture drift: cascade never fired, modes indistinguishable")
    val msg = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: bpe_annotate
         |      table:
         |        db: {type: parquet, path: $tableDir}
         |      mode: classic
         |""".stripMargin)).getMessage
    assert(msg.contains("min_rank"))
  }

  test("bpe_annotate step: corpus-sized merge table is a loud config error, not an OOM") {
    val bigDir = java.nio.file.Files.createTempDirectory("graft-bpe-big").toString + "/t"
    // one row over the cap — the fetch is limit(cap+1) so the driver
    // never holds more than cap+1 rows whatever the source size
    spark.range(Pipeline.MaxMergeTableRows + 1L)
      .select(col("id").as("rank"),
        concat(lit("l"), col("id")).as("left_tok"),
        concat(lit("r"), col("id")).as("right_tok"))
      .write.parquet(bigDir)
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: bpe_annotate
         |      table:
         |        db: {type: parquet, path: $bigDir}
         |""".stripMargin)
    val msg = intercept[IllegalArgumentException](
      Pipeline.run(spark, spec)).getMessage
    assert(msg.contains("merge table") && msg.contains("bpe_train"))
  }

  test("chunk step parses and matches the operator; bad sizes fail fast") {
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: chunk
         |      chunk_size: 16
         |      stride: 8
         |""".stripMargin)
    assert(spec.steps == Seq(StepSpec.Chunk(16, 8)))
    val viaPipe = Pipeline.run(spark, spec)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toString)
    val direct = graft.operators.TextAnalysis.chunk(
        spark.read.parquet(docsPath), 16, 8)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toString)
    assert(viaPipe.length > 0 && viaPipe.sameElements(direct))
    val msg = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $docsPath}
         |  steps:
         |    - kind: chunk
         |      chunk_size: 4
         |      stride: 8
         |""".stripMargin)).getMessage
    assert(msg.contains("chunk_size >= stride"))
  }

  test("scd2 and freshness report steps parse and match their operator twins") {
    val evPath = s"$Sf0001/events.parquet"
    val scd2Spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $evPath}
         |  steps:
         |    - kind: scd2
         |      entity_col: user_id
         |      state_col: event_type
         |""".stripMargin)
    assert(scd2Spec.steps == Seq(
      StepSpec.Scd2("user_id", "ts", "event_id", "event_type")))
    // the pipeline source reads the raw NANOS column as timestamp_ntz
    // while GraftSession.table converts to timestamp — same instants,
    // so compare on the SQL string rendering
    def render(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("run_seq"), col("event_type"),
        col("valid_from").cast("string"), col("valid_to").cast("string"),
        col("n_events"), col("is_current"))
      .orderBy("user_id", "run_seq").collect()
    val viaPipe = render(Pipeline.run(spark, scd2Spec))
    val direct = render(graft.queries.Relational.scd2History(
      GraftSession.table(spark, Sf0001, "events"),
      "user_id", "ts", "event_id", "event_type"))
    assert(viaPipe.length == direct.length && viaPipe.length > 0)
    assert(viaPipe.sameElements(direct))

    val freshSpec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $evPath}
         |  steps:
         |    - kind: freshness
         |      key_col: event_type
         |      stale_sec: 60
         |""".stripMargin)
    assert(freshSpec.steps == Seq(StepSpec.Freshness("event_type", "ts", 60L)))
    def renderFresh(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key"), col("last_seen").cast("string"), col("n"),
        col("lag_sec"), col("stale"))
      .orderBy("key").collect()
    val fresh = renderFresh(Pipeline.run(spark, freshSpec))
    val directFresh = renderFresh(graft.operators.Profiler.freshness(
      GraftSession.table(spark, Sf0001, "events"),
      col("event_type"), col("ts"), 60L))
    assert(fresh.length > 0 && fresh.sameElements(directFresh))
    assert(fresh.exists(r => !r.getBoolean(4)), "freshest key must not be stale")
    // bad stale_sec fails fast at parse
    val msg = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $evPath}
         |  steps:
         |    - kind: freshness
         |      key_col: event_type
         |      stale_sec: 0
         |""".stripMargin)).getMessage
    assert(msg.contains("stale_sec"))
    // key_col is required — omitting the report grain fails at parse,
    // not at execution against a column the data doesn't have
    val msgKey = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $evPath}
         |  steps:
         |    - kind: freshness
         |      stale_sec: 60
         |""".stripMargin)).getMessage
    assert(msgKey.contains("key_col"))
    val msgEntity = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $evPath}
         |  steps:
         |    - kind: scd2
         |      state_col: event_type
         |""".stripMargin)).getMessage
    assert(msgEntity.contains("entity_col"))
  }

  test("ks_drift step: parses, matches the operator twin, zero vs self, fails fast") {
    val ordPath = s"$Sf0001/orders.parquet"
    def spec(refPath: String) = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $ordPath}
         |  steps:
         |    - kind: ks_drift
         |      col: o_totalprice
         |      bucket_width: 10000
         |      table:
         |        db: {type: parquet, path: $refPath}
         |""".stripMargin)
    val s0 = spec(ordPath)
    assert(s0.steps.length == 1 &&
      s0.steps.head.asInstanceOf[StepSpec.KsDrift].col == "o_totalprice")
    // vs itself: identical distributions, KS exactly 0
    val self = Pipeline.run(spark, s0).head()
    assert(self.getLong(2) == 0L, s"self-KS must be 0, got $self")
    // vs a truncated reference: a real gap, and the step's report is
    // bit-identical to the operator called directly
    val o = GraftSession.table(spark, Sf0001, "orders")
    val refDir = java.nio.file.Files
      .createTempDirectory("graft-ks").toString + "/ref.parquet"
    o.where(col("o_totalprice") < 100000).write.parquet(refDir)
    val viaPipe = Pipeline.run(spark, spec(refDir)).head()
    val direct = graft.operators.Profiler.ksDrift(
      o, spark.read.parquet(refDir), "o_totalprice", 10000.0).head()
    assert(viaPipe.getLong(2) == direct.getLong(2) && viaPipe.getLong(2) > 0L)
    assert(viaPipe.getDouble(3) == direct.getDouble(3))
    // the compared column is required at parse time
    val msgCol = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $ordPath}
         |  steps:
         |    - kind: ks_drift
         |      table:
         |        db: {type: parquet, path: $ordPath}
         |""".stripMargin)).getMessage
    assert(msgCol.contains("col"))
    val msgW = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $ordPath}
         |  steps:
         |    - kind: ks_drift
         |      col: o_totalprice
         |      bucket_width: -1
         |      table:
         |        db: {type: parquet, path: $ordPath}
         |""".stripMargin)).getMessage
    assert(msgW.contains("bucket_width"))
  }

  /** A corpus of near-duplicate clusters: cluster c holds 1 + c % 4
    * copies of one 30-word text, copy j with its first j words
    * replaced, spread over three sources.
    */
  private def clusteredCorpus(): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 40).flatMap { c =>
      val base = Seq.fill(30)(s"w${rnd.nextInt(500)}")
      (0 until 1 + c % 4).map(j => (base, j))
    }.zipWithIndex.map { case ((base, j), i) =>
      val words = base.zipWithIndex.map { case (w, k) => if (k < j) s"v$i$k" else w }
      (i.toLong + 1, words.mkString(" "), s"s${i % 3}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-clusters").toString
    rows.toDF("doc_id", "text", "source").write.parquet(s"$dir/docs")
    s"$dir/docs"
  }

  private def keeperSplitSpec(corpus: String, bench: String, withSplit: Boolean) =
    PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $corpus}
         |  steps:
         |    - kind: dedup_near
         |    - kind: decontaminate
         |      bench:
         |        db: {type: parquet, path: $bench}
         |    - kind: source_cap
         |      k: 9
         |""".stripMargin + (if (!withSplit) "" else
        """    - kind: split
          |      weights: {train: 0.5, val: 0.25, test: 0.25}
          |      leakage_safe: true
          |""".stripMargin))

  private def benchOf(corpus: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench").toString
    spark.read.parquet(corpus).where(col("doc_id").isin(3L, 50L))
      .write.parquet(s"$dir/bench")
    s"$dir/bench"
  }

  test("leakage-safe split over near-dup keepers equals the full clustering path") {
    val corpus = clusteredCorpus()
    val bench = benchOf(corpus)
    val pre = Pipeline.run(spark, keeperSplitSpec(corpus, bench, withSplit = false))
    val want = graft.operators.Sampling.leakageSafeSplit(pre,
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)).drop("cluster_id")
    val got = Pipeline.run(spark, keeperSplitSpec(corpus, bench, withSplit = true))
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.columns.head == "doc_id")
    val g = got.orderBy("doc_id").collect().toSeq
    assert(g == want.orderBy("doc_id").collect().toSeq)
    // the steps bite: at most 9 keepers in each of the 3 sources, and
    // more than one split label used
    assert(g.nonEmpty && g.size <= 27, s"${g.size} rows")
    assert(g.map(_.getAs[String]("split")).distinct.size > 1)
  }

  test("leakage-safe split over near-dup keepers clusters once") {
    import org.apache.spark.sql.execution.LogicalRDD
    val corpus = clusteredCorpus()
    val out = Pipeline.run(spark, keeperSplitSpec(corpus, benchOf(corpus), withSplit = true))
    // each connected-components loop leaves its final label round as a
    // checkpointed LogicalRDD leaf in the plan; dedup_near's is the only one
    val labelLeaves = out.queryExecution.optimizedPlan
      .collectWithSubqueries { case r: LogicalRDD => r.rdd.id }.distinct
    assert(labelLeaves.size == 1, out.queryExecution.optimizedPlan.toString)
  }

  test("a text rewrite after dedup_near clears the keeper rule: the split clusters again") {
    import spark.implicits._
    // every 3-word shingle holds an address, so the two documents share
    // none and both survive dedup_near; redact_pii then makes them equal
    def doc(who: String) = (1 to 12).map(k => s"$who$k@mail.org word$k").mkString(" ")
    val weights = Seq("train" -> 0.5, "test" -> 0.5)
    val labels = graft.operators.Sampling.hashSplit((1L to 20L).toDF("doc_id"),
        col("doc_id"), weights).collect().map(r => r.getLong(0) -> r.getString(1))
    val a = labels.find(_._2 == "train").get._1
    val b = labels.find(_._2 == "test").get._1
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    Seq((a, doc("alice")), (b, doc("bob"))).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    val spec = PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $dir/docs}
         |  steps:
         |    - kind: dedup_near
         |    - kind: redact_pii
         |    - kind: split
         |      weights: {train: 0.5, test: 0.5}
         |      leakage_safe: true
         |""".stripMargin)
    val got = Pipeline.run(spark, spec).select("doc_id", "text", "split").collect()
    assert(got.length == 2 && got(0).getString(1) == got(1).getString(1))
    assert(got(0).getString(2) == got(1).getString(2), got.toSeq)
  }
}
