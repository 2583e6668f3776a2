package graft.config

import graft.{Main, SparkSpec}
import graft.diff.SchemaCheck
import java.nio.file.Files

/** Mirrors the reference's config-layer tests
  * (/root/reference/tests/test_configuration.py:11-34,
  * /root/reference/tests/test_scribedb.py:47-57): missing/empty/
  * malformed config raises; valid config decodes; end-to-end compare
  * runs from a spec.
  */
class ConfigSpec extends SparkSpec {

  private val validYaml =
    s"""source:
       |  name: src
       |  db:
       |    type: parquet
       |    path: $Sf0001/lineitem.parquet
       |target:
       |  name: tgt
       |  db:
       |    type: parquet
       |    path: $Sf0001/lineitem.parquet
       |max_delta: 0
       |num_buckets: 64
       |""".stripMargin

  test("persist_scans: explicit YAML wins; JDBC sides default to true, files to false") {
    val fileSpec = ConfigLoader.fromYaml(validYaml)
    assert(!fileSpec.options.persistScans)
    assert(ConfigLoader.fromYaml(validYaml + "persist_scans: true\n").options.persistScans)
    val jdbcSpec = ConfigLoader.fromYaml(
      """source:
        |  db: {type: jdbc, url: "jdbc:derby:memory:x", qry: SELECT 1 FROM t}
        |target:
        |  db: {type: jdbc, url: "jdbc:derby:memory:y", qry: SELECT 1 FROM t}
        |""".stripMargin)
    assert(jdbcSpec.options.persistScans)
    assert(!jdbcSpec.copy(persistScans = Some(false)).options.persistScans)
  }

  test("circuit-breaker YAML knobs decode, default, and validate") {
    val defaults = ConfigLoader.fromYaml(validYaml).options
    assert(defaults.maxMismatchFraction == 0.25 && defaults.breakerMinRows == 1000000L)
    val tuned = ConfigLoader.fromYaml(
      validYaml + "max_mismatch_fraction: 0.5\nbreaker_min_rows: 1000\n").options
    assert(tuned.maxMismatchFraction == 0.5 && tuned.breakerMinRows == 1000L)
    intercept[IllegalArgumentException](
      ConfigLoader.fromYaml(validYaml + "max_mismatch_fraction: 1.5\n"))
  }

  test("missing config file raises") {
    intercept[IllegalArgumentException](ConfigLoader.load("/nonexistent/x.yaml"))
  }

  test("empty config file raises") {
    val f = Files.createTempFile("graft", ".yaml")
    intercept[IllegalArgumentException](ConfigLoader.load(f.toString))
  }

  test("malformed YAML raises") {
    intercept[IllegalArgumentException](ConfigLoader.fromYaml("source: [unclosed"))
  }

  test("missing side raises") {
    intercept[IllegalArgumentException](ConfigLoader.fromYaml("source:\n  db: {type: sql, qry: SELECT 1}\n"))
  }

  test("unknown source type raises") {
    intercept[IllegalArgumentException](ConfigLoader.fromYaml(
      validYaml.replace("type: parquet", "type: mysql")))
  }

  test("unknown fields raise at the root, in a side and in its db, naming the field") {
    def msg(yaml: String) =
      intercept[IllegalArgumentException](ConfigLoader.fromYaml(yaml)).getMessage
    // a typo'd schema_check must not silently run the positional default
    assert(msg(validYaml + "schema_chek: exact\n").contains("unknown field 'schema_chek'"))
    assert(msg(validYaml.replace("  name: tgt", "  nmae: tgt"))
      .contains("target: unknown field 'nmae'"))
    assert(msg(validYaml.replaceFirst("    path:", "    pth:"))
      .contains("source.db: unknown field 'pth'"))
    // postgres fixes its driver: a `driver` field would be ignored
    assert(msg("""source:
                 |  db: {type: postgres, host: h, port: 1, dbname: d, driver: x.Y, qry: SELECT 1}
                 |target:
                 |  db: {type: sql, qry: SELECT 1}
                 |""".stripMargin).contains("source.db: unknown field 'driver'"))
    assert(msg("""source:
                 |  db: {type: sql, qry: SELECT 1, path: /x}
                 |target:
                 |  db: {type: sql, qry: SELECT 1}
                 |""".stripMargin).contains("source.db: unknown field 'path'"))
    // pipeline sides share the side decoder, so they get the same check
    val p = intercept[IllegalArgumentException](PipelineLoader.fromYaml(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: $Sf0001/documents.parquet, qyr: SELECT 1}
         |  steps:
         |    - kind: filter_stack
         |""".stripMargin)).getMessage
    assert(p.contains("pipeline.input.db: unknown field 'qyr'"), p)
  }

  test("every compare example yaml in examples/ decodes to a valid spec") {
    import scala.jdk.CollectionConverters._
    val yamls = Files.list(java.nio.file.Paths.get("examples")).iterator().asScala
      .map(_.toString).filter(p => p.contains("compare_") && p.endsWith(".yaml"))
      .toSeq.sorted
    assert(yamls.size == 4, yamls)
    yamls.foreach { p =>
      val spec = ConfigLoader.load(p)
      assert(spec.source.name.nonEmpty && spec.target.name.nonEmpty, p)
    }
  }

  test("valid config decodes with defaults") {
    val spec = ConfigLoader.fromYaml(validYaml)
    assert(spec.source.name == "src")
    assert(spec.maxDelta == 0 && spec.searchDiff)
    assert(spec.numBuckets.contains(64))
    assert(spec.schemaCheck == SchemaCheck.Positional)
  }

  test("jdbc source builds engine-specific URL and driver") {
    val spec = ConfigLoader.fromYaml(
      """source:
        |  db: {type: postgres, host: h, port: 5432, dbname: d, user: u, password_env: PGPW, qry: SELECT 1}
        |target:
        |  db: {type: sql, qry: SELECT 1}
        |""".stripMargin)
    spec.source.source match {
      case j: SourceSpec.Jdbc =>
        assert(j.url == "jdbc:postgresql://h:5432/d")
        assert(j.driver.contains("org.postgresql.Driver"))
        assert(j.user.contains("u") && j.passwordEnv.contains("PGPW") && j.qry == "SELECT 1")
        assert(j.partitionColumn.isEmpty && j.numPartitions.isEmpty)
      case other => fail(s"expected Jdbc, got $other")
    }
  }

  test("end-to-end: run() from a file-source spec, identical verdict") {
    val rep = Main.run(spark, ConfigLoader.fromYaml(validYaml))
    assert(rep.identical)
  }

  test("end-to-end: sql sources with a mutation, orphans found, exit-code semantics") {
    graft.GraftSession.registerAll(spark, Sf0001)
    val spec = ConfigLoader.fromYaml(
      """source:
        |  db: {type: sql, qry: "SELECT l_orderkey, l_quantity FROM lineitem"}
        |target:
        |  db: {type: sql, qry: "SELECT l_orderkey, CASE WHEN l_orderkey = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity FROM lineitem"}
        |num_buckets: 64
        |max_delta: 10
        |""".stripMargin)
    val rep = Main.run(spark, spec)
    assert(!rep.identical && rep.withinTolerance)
    assert(rep.differences > 0)
  }

  /** A target directory holding one valid parquet file and one corrupt one. */
  private def corruptParquetDir(): String = {
    val dir = Files.createTempDirectory("graft_corrupt")
    spark.read.parquet(s"$Sf0001/documents.parquet").write.parquet(s"$dir/t")
    Files.write(dir.resolve("t/part-99999-corrupt.parquet"),
      "PAR1 this is not a parquet file PAR1".getBytes("UTF-8"))
    s"$dir/t"
  }

  /** `Main.exec` on the shared session: (status, stdout lines). */
  private def cli(yaml: String, flags: String*): (Int, Seq[String]) = {
    val cfg = Files.createTempFile("graft_cli", ".yaml")
    Files.write(cfg, yaml.getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    val status = Console.withOut(out)(
      Main.exec((Seq("-f", cfg.toString) ++ flags).toArray, Some(spark)))
    (status, out.toString("UTF-8").linesIterator.toSeq)
  }

  test("exit codes: a corrupt target file in compare mode exits 2, no verdict") {
    val (status, out) = cli(
      s"""source:
         |  db: {type: parquet, path: $Sf0001/documents.parquet}
         |target:
         |  db: {type: parquet, path: ${corruptParquetDir()}}
         |num_buckets: 16
         |""".stripMargin)
    assert(status == 2, out)
    assert(!out.exists(_.startsWith("Datasets are")), out)
    assert(!spark.sparkContext.isStopped)
  }

  test("exit codes: a typo'd config field exits 2 with a Config error line") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val (status, out) =
      try cli(validYaml + "schema_chek: exact\n")
      finally System.setErr(saved)
    assert(status == 2, out)
    assert(!out.exists(_.startsWith("Datasets are")), out)
    val lines = err.toString("UTF-8").linesIterator.toSeq
    assert(lines.exists(l => l.startsWith("Config error:") && l.contains("schema_chek")),
      lines.mkString("\n"))
  }

  test("exit codes: a corrupt input file in pipeline mode exits 2, no OK line") {
    val sink = Files.createTempDirectory("graft_cli_sink").resolve("out")
    val (status, out) = cli(
      s"""pipeline:
         |  input:
         |    db: {type: parquet, path: ${corruptParquetDir()}}
         |  steps:
         |    - kind: filter_stack
         |  output: {path: $sink, format: parquet}
         |""".stripMargin, "--pipeline")
    assert(status == 2, out)
    assert(!out.exists(_.startsWith("pipeline OK")), out)
    assert(!spark.sparkContext.isStopped)
  }

  test("repair_table: config-to-DML e2e — script written beside the report; validations fail fast") {
    // config validation: repair_out alone, unsafe identifier, and
    // repair without row fetch are all parse-time errors
    assert(intercept[IllegalArgumentException](ConfigLoader.fromYaml(
      validYaml + "repair_out: /tmp/x\n")).getMessage.contains("repair_table"))
    assert(intercept[IllegalArgumentException](ConfigLoader.fromYaml(
      validYaml + "repair_table: \"t; DROP TABLE x\"\n"))
      .getMessage.contains("safe SQL identifier"))
    assert(intercept[IllegalArgumentException](ConfigLoader.fromYaml(
      validYaml + "repair_table: t\nsearch_diff: false\n"))
      .getMessage.contains("search_diff"))
    // e2e: one mutated row -> one INSERT + one DELETE, written to
    // repair_out one statement per line, replayable text
    graft.GraftSession.registerAll(spark, Sf0001)
    val outDir = Files.createTempDirectory("graft_repair").toString
    val spec = ConfigLoader.fromYaml(
      s"""source:
        |  db: {type: sql, qry: "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_linenumber = 5"}
        |target:
        |  db: {type: sql, qry: "SELECT l_orderkey, CASE WHEN l_orderkey = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity FROM lineitem WHERE l_linenumber = 5"}
        |num_buckets: 64
        |repair_table: wh.lineitem
        |repair_out: $outDir/script
        |""".stripMargin)
    val rep = Main.run(spark, spec)
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    Main.emitRepair(rep, spec, notes += _)
    assert(notes.exists(_.contains(s"$outDir/script")), notes)
    val lines = spark.read.text(s"$outDir/script").collect().map(_.getString(0))
    assert(lines.length == 2, lines.mkString("\n"))
    assert(lines.count(_.startsWith("INSERT INTO wh.lineitem (l_orderkey, l_quantity) VALUES (")) == 1)
    assert(lines.count(_.startsWith("DELETE FROM wh.lineitem WHERE l_orderkey = ")) == 1)
    // identical compare emits nothing
    val same = ConfigLoader.fromYaml(validYaml + "repair_table: t\n")
    assert(Main.repairScript(Main.run(spark, same), same).isEmpty)
  }

  test("align_columns + renames: YAML decodes, validates, and runs the migration audit") {
    // renames without align_columns is a config error
    val e = intercept[IllegalArgumentException](ConfigLoader.fromYaml(
      validYaml + "renames: {a: b}\n"))
    assert(e.getMessage.contains("align_columns"))
    // migration shape: target renamed l_quantity -> qty and added a
    // load column; aligned run compares the shared columns (incl. the
    // renamed one) and comes back identical
    graft.GraftSession.registerAll(spark, Sf0001)
    val spec = ConfigLoader.fromYaml(
      """source:
        |  db: {type: sql, qry: "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"}
        |target:
        |  db: {type: sql, qry: "SELECT l_orderkey, l_linenumber, l_quantity AS qty, 'x' AS loaded_by FROM lineitem"}
        |num_buckets: 64
        |align_columns: true
        |renames: {l_quantity: qty}
        |""".stripMargin)
    assert(spec.alignColumns && spec.renames == Map("l_quantity" -> "qty"))
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val rep = Main.run(spark, spec, progress = notes += _)
    assert(rep.identical)
    assert(notes.exists(_.contains("tgt-only [loaded_by]")), notes.mkString("; "))
  }

  test("filtered-query config: both sides shaped by WHERE clauses, identical verdict") {
    // mirrors the reference's filtered-query fixture
    // (/root/reference/tests/yaml — filtered query shape)
    graft.GraftSession.registerAll(spark, Sf0001)
    val rep = Main.run(spark, ConfigLoader.fromYaml(
      """source:
        |  db: {type: sql, qry: "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000"}
        |target:
        |  db: {type: sql, qry: "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000"}
        |num_buckets: 32
        |""".stripMargin))
    assert(rep.identical && rep.srcRows > 0)
  }

  test("single-column config compares (reference's single-column fixture shape)") {
    graft.GraftSession.registerAll(spark, Sf0001)
    val rep = Main.run(spark, ConfigLoader.fromYaml(
      """source:
        |  db: {type: sql, qry: "SELECT o_orderkey FROM orders"}
        |target:
        |  db: {type: sql, qry: "SELECT o_orderkey FROM orders"}
        |num_buckets: 32
        |""".stripMargin))
    assert(rep.identical && rep.srcRows == 1500)
  }

  test("CLI arg parsing incl. the reference's dead flag, now functional") {
    val a = Main.parseArgs(Array("-f", "c.yaml", "--no-search-diff", "-l", "INFO"))
    assert(a.configPath == "c.yaml" && a.searchDiff.contains(false) && a.logLevel == "INFO")
    intercept[IllegalArgumentException](Main.parseArgs(Array("--bogus")))
  }
}
