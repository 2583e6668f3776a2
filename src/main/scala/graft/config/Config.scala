package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.diff.{CompareOptions, SchemaCheck}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Where a side's rows come from — the analog of the reference's
  * discriminated union `Db = Union[Postgres, Oracle]` on `type`
  * (/root/reference/scribedb/configuration.py:19-37,
  * /root/reference/main.py:104-153), widened with file and SQL sources
  * the reference lacks. JDBC pushes the user's whole `qry` down to the
  * remote database via the `query` option — the faithful analog of the
  * reference shipping `qry` to PG/Oracle
  * (/root/reference/scribedb/base.py:39).
  */
sealed trait SourceSpec
object SourceSpec {
  /** type: parquet | csv | json | orc. Optional `qry` runs Spark SQL over the
    * file registered as view `<name>`.
    */
  final case class File(format: String, path: String, qry: Option[String]) extends SourceSpec
  /** type: postgres | oracle | jdbc. Password comes from the env var
    * named by `passwordEnv` — the reference's secret contract
    * (/root/reference/scribedb/postgres.py:51, Dockerfile env).
    *
    * `partitionColumn` + `numPartitions` (+ optional explicit
    * `lowerBound`/`upperBound`) switch the read from a single remote
    * cursor — the reference's posture
    * (/root/reference/scribedb/base.py:58-69), and the biggest
    * single-node bottleneck on a big remote table — to Spark's
    * range-partitioned JDBC read: `numPartitions` concurrent
    * connections each pulling one stride of the partition column.
    * Bounds default to a pushed-down MIN/MAX round-trip (one scalar
    * row over the wire).
    */
  final case class Jdbc(
      url: String,
      driver: Option[String],
      user: Option[String],
      passwordEnv: Option[String],
      qry: String,
      partitionColumn: Option[String] = None,
      numPartitions: Option[Int] = None,
      // strings, not longs: Spark's partitioned JDBC reader accepts
      // numeric, DATE ("2024-01-01") and TIMESTAMP bounds
      lowerBound: Option[String] = None,
      upperBound: Option[String] = None) extends SourceSpec
  /** type: sql — a query over views already registered in the session. */
  final case class Sql(qry: String) extends SourceSpec
}

final case class SideSpec(name: String, source: SourceSpec)

/** Root config: two sides + comparator knobs. `maxDelta` and
  * `searchDiff` are the reference's dead `max_delta` field
  * (/root/reference/main.py:153) and never-read `--search_diff` flag
  * (/root/reference/command_line.py:19-27) implemented for real.
  */
final case class CompareSpec(
    source: SideSpec,
    target: SideSpec,
    maxDelta: Long = 0L,
    searchDiff: Boolean = true,
    numBuckets: Option[Int] = None,
    schemaCheck: SchemaCheck = SchemaCheck.Positional,
    persistScans: Option[Boolean] = None,
    maxMismatchFraction: Option[Double] = None,
    breakerMinRows: Option[Long] = None,
    // schema-evolution mode: project both sides onto their common
    // columns (Comparator.alignSchemas), optionally matching renamed
    // target columns under their old source names first
    alignColumns: Boolean = false,
    renames: Map[String, String] = Map.empty,
    // repair emission: when set, a non-identical compare with fetched
    // orphan rows also renders the reconciliation DML
    // (Comparator.repairActions) against this target table — the
    // report→fix arc from config alone. `repairOut` writes the script
    // to a path (one statement per line); unset, it prints with the
    // report.
    repairTable: Option[String] = None,
    repairOut: Option[String] = None) {
  private def hasJdbcSide: Boolean =
    source.source.isInstanceOf[SourceSpec.Jdbc] || target.source.isInstanceOf[SourceSpec.Jdbc]
  def options: CompareOptions = CompareOptions(
    numBuckets = numBuckets.getOrElse(4096),
    maxDelta = maxDelta,
    fetchRows = searchDiff,
    schemaCheck = schemaCheck,
    // JDBC sides default to persisting the first scan: a re-scan
    // re-runs the remote query, and a live database may not return the
    // same rows twice (see CompareOptions.persistScans)
    persistScans = persistScans.getOrElse(hasJdbcSide),
    // orphan-volume circuit breaker (CompareOptions.maxMismatchFraction);
    // set 1.0 to force the row fetch on wildly different inputs
    maxMismatchFraction = maxMismatchFraction.getOrElse(0.25),
    breakerMinRows = breakerMinRows.getOrElse(1000000L))
}

/** YAML → CompareSpec. Fail-fast with precise messages — the analog of
  * the reference's Configuration + pydantic validation
  * (/root/reference/scribedb/configuration.py:19-37): missing file,
  * empty file, malformed YAML, unknown/missing fields all raise.
  */
object ConfigLoader {

  private[config] val mapper = new ObjectMapper(new YAMLFactory())

  def load(path: String): CompareSpec = {
    val p = Paths.get(path)
    if (!Files.exists(p))
      throw new IllegalArgumentException(s"Config file not found: $path")
    val text = Files.readString(p)
    if (text.trim.isEmpty)
      throw new IllegalArgumentException(s"Config file is empty: $path")
    fromYaml(text)
  }

  def fromYaml(text: String): CompareSpec = {
    val root =
      try mapper.readTree(text)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"Malformed YAML: ${e.getMessage}")
      }
    if (root == null || !root.isObject)
      throw new IllegalArgumentException("Config root must be a mapping")
    onlyFields(root, "config", "source", "target", "max_delta", "search_diff",
      "num_buckets", "persist_scans", "max_mismatch_fraction", "breaker_min_rows",
      "schema_check", "align_columns", "renames", "repair_table", "repair_out")
    CompareSpec(
      source = side(require(root, "source"), "source"),
      target = side(require(root, "target"), "target"),
      maxDelta = opt(root, "max_delta").map(_.asLong(0L)).getOrElse(0L),
      searchDiff = opt(root, "search_diff").forall(_.asBoolean(true)),
      numBuckets = opt(root, "num_buckets").map(_.asInt),
      persistScans = opt(root, "persist_scans").map(_.asBoolean),
      maxMismatchFraction = opt(root, "max_mismatch_fraction").map { n =>
        val v = n.asDouble
        if (v < 0.0 || v > 1.0)
          throw new IllegalArgumentException(
            s"max_mismatch_fraction must be in [0, 1], got $v")
        v
      },
      breakerMinRows = opt(root, "breaker_min_rows").map(_.asLong),
      schemaCheck = opt(root, "schema_check").map(_.asText) match {
        case Some("arity")      => SchemaCheck.ArityOnly
        case Some("positional") | None => SchemaCheck.Positional
        case Some("exact")      => SchemaCheck.Exact
        case Some(other) =>
          throw new IllegalArgumentException(
            s"schema_check must be arity|positional|exact, got '$other'")
      },
      alignColumns = opt(root, "align_columns").exists(_.asBoolean(false)),
      renames = opt(root, "renames").map { n =>
        if (!n.isObject)
          throw new IllegalArgumentException(
            "renames must be a mapping of source column -> target column")
        n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty),
      repairTable = opt(root, "repair_table").map(_.asText),
      repairOut = opt(root, "repair_out").map(_.asText)) match {
      case s if s.renames.nonEmpty && !s.alignColumns =>
        throw new IllegalArgumentException(
          "renames requires align_columns: true")
      case s if s.repairOut.nonEmpty && s.repairTable.isEmpty =>
        throw new IllegalArgumentException(
          "repair_out requires repair_table")
      case s if s.repairTable.nonEmpty && !s.searchDiff =>
        throw new IllegalArgumentException(
          "repair_table requires search_diff: true " +
            "(the DML renders from fetched orphan rows)")
      case s if s.repairTable.exists(t =>
          !t.matches("[A-Za-z_][A-Za-z0-9_$]*(\\.[A-Za-z_][A-Za-z0-9_$]*)*")) =>
        throw new IllegalArgumentException(
          s"repair_table is not a safe SQL identifier: '${s.repairTable.get}'")
      case s => s
    }
  }

  private[config] def side(node: JsonNode, where: String): SideSpec = {
    onlyFields(node, where, "name", "db")
    val name = opt(node, "name").map(_.asText).getOrElse(where)
    val db = require(node, "db", where)
    val tpe = require(db, "type", s"$where.db").asText
    val src = tpe match {
      case "parquet" | "csv" | "json" | "orc" =>
        onlyFields(db, s"$where.db", "type", "path", "qry")
        SourceSpec.File(tpe,
          require(db, "path", s"$where.db").asText,
          opt(db, "qry").map(_.asText))
      case "postgres" | "oracle" | "jdbc" =>
        // generic jdbc names its driver; postgres/oracle fix theirs and
        // may build the url from host/port/dbname
        onlyFields(db, s"$where.db", Seq("type", "url", "user", "password_env", "qry",
          "partition_column", "num_partitions", "lower_bound", "upper_bound") ++
          (if (tpe == "jdbc") Seq("driver") else Seq("host", "port", "dbname")): _*)
        val url = opt(db, "url").map(_.asText).getOrElse {
          val host = require(db, "host", s"$where.db").asText
          val port = require(db, "port", s"$where.db").asInt
          val dbname = require(db, "dbname", s"$where.db").asText
          tpe match {
            case "postgres" => s"jdbc:postgresql://$host:$port/$dbname"
            case "oracle"   => s"jdbc:oracle:thin:@//$host:$port/$dbname"
            case _ => throw new IllegalArgumentException(
              s"$where.db: generic jdbc needs an explicit url")
          }
        }
        val driver = tpe match {
          case "postgres" => Some("org.postgresql.Driver")
          case "oracle"   => Some("oracle.jdbc.OracleDriver")
          case _          => opt(db, "driver").map(_.asText)
        }
        val spec = SourceSpec.Jdbc(url, driver,
          opt(db, "user").map(_.asText),
          opt(db, "password_env").map(_.asText),
          require(db, "qry", s"$where.db").asText,
          partitionColumn = opt(db, "partition_column").map(_.asText),
          numPartitions = opt(db, "num_partitions").map(_.asInt),
          lowerBound = opt(db, "lower_bound").map(_.asText),
          upperBound = opt(db, "upper_bound").map(_.asText))
        if (spec.numPartitions.exists(_ > 1) && spec.partitionColumn.isEmpty)
          throw new IllegalArgumentException(
            s"$where.db: num_partitions > 1 needs a partition_column")
        if ((spec.lowerBound.isDefined || spec.upperBound.isDefined) && spec.partitionColumn.isEmpty)
          throw new IllegalArgumentException(
            s"$where.db: lower_bound/upper_bound need a partition_column")
        spec
      case "sql" =>
        onlyFields(db, s"$where.db", "type", "qry")
        SourceSpec.Sql(require(db, "qry", s"$where.db").asText)
      case other =>
        throw new IllegalArgumentException(
          s"$where.db.type must be parquet|csv|json|orc|postgres|oracle|jdbc|sql, got '$other'")
    }
    SideSpec(name, src)
  }

  private[config] def require(node: JsonNode, field: String, where: String = "config"): JsonNode = {
    val n = node.get(field)
    if (n == null || n.isNull)
      throw new IllegalArgumentException(s"$where: missing required field '$field'")
    n
  }

  /** Rejects any field of `node` outside `allowed`: a typo such as
    * `schema_chek` must fail, not silently fall back to the default. */
  private def onlyFields(node: JsonNode, where: String, allowed: String*): Unit =
    node.fieldNames().asScala.find(f => !allowed.contains(f)).foreach { f =>
      throw new IllegalArgumentException(
        s"$where: unknown field '$f' (valid: ${allowed.mkString(", ")})")
    }

  private[config] def opt(node: JsonNode, field: String): Option[JsonNode] =
    Option(node.get(field)).filterNot(_.isNull)
}
