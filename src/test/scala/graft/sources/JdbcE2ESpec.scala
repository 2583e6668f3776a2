package graft.sources

import graft.{Main, SparkSpec}
import graft.config.ConfigLoader
import java.sql.DriverManager

/** Live-database end-to-end for the JDBC path — the analog of the
  * reference's flagship test, which spins a real PostgreSQL, loads
  * t_test, mutates one row, and expects the full compare to report it
  * (/root/reference/tests/test_scribedb.py:25-77). No network database
  * exists in this sandbox, so embedded Derby (in-process, on the Spark
  * classpath for the Hive metastore) plays the server: Spark's JDBC
  * reader goes through the exact same `query`-pushdown code path
  * (Sources.scala) as it would against PostgreSQL or Oracle.
  */
class JdbcE2ESpec extends SparkSpec {

  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val Rows = 5000

  private def url(db: String) = s"jdbc:derby:memory:$db;create=true"

  private def initDb(db: String): Unit = {
    Class.forName(Driver)
    val conn = DriverManager.getConnection(url(db))
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE t_test (a INT, b INT, c VARCHAR(200))")
      val ps = conn.prepareStatement("INSERT INTO t_test VALUES (?, ?, ?)")
      (1 to Rows).foreach { i =>
        ps.setInt(1, i); ps.setInt(2, i % 1000)
        ps.setString(3, s"the quick brown fox jumped over the lazy dog number $i")
        ps.addBatch()
        if (i % 1000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
    } finally conn.close()
  }

  private def yamlSpec = ConfigLoader.fromYaml(
    s"""source:
       |  name: src
       |  db:
       |    type: jdbc
       |    url: "${url("srcdb")}"
       |    driver: $Driver
       |    qry: SELECT a, b, c FROM t_test
       |target:
       |  name: tgt
       |  db:
       |    type: jdbc
       |    url: "${url("tgtdb")}"
       |    driver: $Driver
       |    qry: SELECT a, b, c FROM t_test
       |num_buckets: 64
       |""".stripMargin)

  test("JDBC e2e: identical Derby databases compare identical") {
    initDb("srcdb"); initDb("tgtdb")
    val rep = Main.run(spark, yamlSpec)
    assert(rep.identical)
    assert(rep.srcRows == Rows && rep.tgtRows == Rows)
    rep.release()
  }

  test("JDBC e2e: one mutated row is reported from both sides (reference worked example)") {
    // the reference's `update t_test ... where a=50` mutation
    val conn = DriverManager.getConnection(url("tgtdb"))
    try conn.createStatement().executeUpdate(
      "UPDATE t_test SET b = b + 10, c = c || ' changed' WHERE a = 50")
    finally conn.close()
    val rep = Main.run(spark, yamlSpec)
    assert(!rep.identical)
    assert(rep.orphanSrc == 1 && rep.orphanTgt == 1)
    val o = rep.orphans.collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(o.toSet == Set(("source", 50, 50), ("target", 50, 60)))
    rep.release()
  }

  test("JDBC e2e: partitioned read opens >1 input partition with auto-derived bounds, identical results") {
    // fresh databases (earlier tests mutate tgtdb); same qry,
    // partitioned 4 ways on `a`, bounds left to the MIN/MAX round-trip
    initDb("psrcdb"); initDb("ptgtdb")
    def partitioned(db: String): graft.config.SourceSpec =
      graft.config.SourceSpec.Jdbc(url(db), Some(Driver), None, None,
        "SELECT a, b, c FROM t_test",
        partitionColumn = Some("a"), numPartitions = Some(4))
    val spec0 = yamlSpec
    val spec = spec0.copy(
      source = spec0.source.copy(source = partitioned("psrcdb")),
      target = spec0.target.copy(source = partitioned("ptgtdb")))

    val df = Sources.resolve(spark, spec.source)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 JDBC input partitions, got ${df.rdd.getNumPartitions}")
    assert(df.count() == Rows) // strides cover the full range exactly once

    // identical verdict through the full compare, same as unpartitioned
    val rep = Main.run(spark, spec)
    assert(rep.identical && rep.srcRows == Rows && rep.tgtRows == Rows)
    rep.release()
  }

  test("JDBC e2e: YAML config carries partitioned-read fields") {
    val spec = ConfigLoader.fromYaml(
      s"""source:
         |  db:
         |    type: jdbc
         |    url: "${url("srcdb")}"
         |    driver: $Driver
         |    qry: SELECT a, b FROM t_test
         |    partition_column: a
         |    num_partitions: 3
         |    lower_bound: 1
         |    upper_bound: $Rows
         |target:
         |  db: { type: jdbc, url: "${url("tgtdb")}", driver: $Driver, qry: "SELECT a, b FROM t_test" }
         |""".stripMargin)
    spec.source.source match {
      case j: graft.config.SourceSpec.Jdbc =>
        assert(j.partitionColumn.contains("a") && j.numPartitions.contains(3))
        assert(j.lowerBound.contains("1") && j.upperBound.contains(Rows.toString))
      case other => fail(s"expected Jdbc spec, got $other")
    }
    val df = Sources.resolve(spark, spec.source)
    assert(df.rdd.getNumPartitions == 3 && df.count() == Rows)

    intercept[IllegalArgumentException] {
      ConfigLoader.fromYaml(
        s"""source:
           |  db: { type: jdbc, url: "x", qry: SELECT 1, num_partitions: 4 }
           |target:
           |  db: { type: jdbc, url: "x", qry: SELECT 1 }
           |""".stripMargin)
    }
  }

  test("JDBC e2e: DATE partition column strides with auto-derived bounds") {
    // big remote tables are usually partitioned by day — the reader
    // must stride on DATE columns, not just numerics
    Class.forName(Driver)
    val conn = DriverManager.getConnection(url("datedb"))
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE t_dated (d DATE, v INT)")
      val ps = conn.prepareStatement("INSERT INTO t_dated VALUES (?, ?)")
      (0 until 365).foreach { i =>
        ps.setDate(1, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)))
        ps.setInt(2, i); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    val spec = graft.config.SideSpec("dated",
      graft.config.SourceSpec.Jdbc(url("datedb"), Some(Driver), None, None,
        "SELECT d, v FROM t_dated",
        partitionColumn = Some("d"), numPartitions = Some(4)))
    val df = Sources.resolve(spark, spec)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 365) // date strides cover the range exactly once
  }

  test("JDBC e2e: planning pushes COUNT(*) down — no full-query scan to size buckets") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        records.addAndGet(te.taskMetrics.inputMetrics.recordsRead); ()
      }
    }
    val spec = yamlSpec.copy(numBuckets = None) // force the compareAuto planning path
    spark.sparkContext.addSparkListener(l)
    try {
      val srcRows = Main.planRows(spark, spec.source)
      val tgtRows = Main.planRows(spark, spec.target)
      assert(srcRows.contains(Rows.toLong) && tgtRows.contains(Rows.toLong))
      org.apache.spark.graftshim.TestListenerBridge.waitUntilEmpty(spark.sparkContext)
      // each planning round-trip reads ONE scalar row; the full-query
      // fallback would read 2×Rows here
      assert(records.get() <= 2,
        s"planning read ${records.get()} records — the COUNT(*) must be pushed down")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("JDBC e2e: the remote query itself is pushed down (projection + filter run in Derby)") {
    val spec0 = yamlSpec
    // the two sides differ in ~half their buckets BY DESIGN here —
    // disable the orphan-volume breaker to force the row fetch
    val filtered = spec0.copy(
      maxMismatchFraction = Some(1.0)).copy(
      source = spec0.source.copy(source = spec0.source.source match {
        case j: graft.config.SourceSpec.Jdbc => j.copy(qry = "SELECT a, b FROM t_test WHERE a <= 100")
        case other => other
      }),
      target = spec0.target.copy(source = spec0.target.source match {
        case j: graft.config.SourceSpec.Jdbc => j.copy(qry = "SELECT a, b FROM t_test WHERE a <= 49")
        case other => other
      }))
    val rep = Main.run(spark, filtered)
    assert(rep.srcRows == 100 && rep.tgtRows == 49)
    assert(rep.orphanSrc == 51 && rep.orphanTgt == 0)
    rep.release()
  }

  test("JDBC e2e: a read that fails mid-partition exits 2 and prints no verdict") {
    // Derby raises on the row a = 2500 only; given bounds mean no
    // planning query runs, so the failure comes from one of the four
    // partition reads inside the fingerprint pass
    initDb("fsrcdb"); initDb("ftgtdb")
    def side(db: String) =
      s"""  db:
         |    type: jdbc
         |    url: "${url(db)}"
         |    driver: $Driver
         |    qry: SELECT a, b, c, 1/(a - 2500) AS z FROM t_test
         |    partition_column: a
         |    num_partitions: 4
         |    lower_bound: 1
         |    upper_bound: $Rows
         |""".stripMargin
    val cfg = java.nio.file.Files.createTempFile("graft_jdbc", ".yaml")
    java.nio.file.Files.write(cfg, (s"source:\n${side("fsrcdb")}target:\n${side("ftgtdb")}" +
      "num_buckets: 64\n").getBytes("UTF-8"))
    val spec = ConfigLoader.load(cfg.toString)
    assert(Sources.resolve(spark, spec.source).rdd.getNumPartitions == 4)
    val out = new java.io.ByteArrayOutputStream()
    val status = Console.withOut(out)(Main.exec(Array("-f", cfg.toString), Some(spark)))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(status == 2, lines)
    assert(!lines.exists(_.startsWith("Datasets are")), lines)
    assert(!spark.sparkContext.isStopped)
  }
}
