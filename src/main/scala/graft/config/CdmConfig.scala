package graft.config

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/**
 * Typed view of the `spark.cdm.*` configuration surface.
 *
 * The reference stack is configured exclusively through a Java properties
 * file passed as `--properties-file` to spark-submit
 * (`/root/reference/entrypoint.sh:277`), i.e. every query parameter is a
 * `spark.cdm.*` key that lands in the `SparkConf`; the wrapper's env-var
 * rewrite engine (`/root/reference/entrypoint.sh:88-179`) produces the same
 * keys. There is no query language: a job class plus a property set fully
 * determines a pipeline (SURVEY.md §1.4, §3.4).
 *
 * This object re-expresses that contract as a pure, idempotent
 * `CdmConfig.from(conf)` (config resolution must be separable from job
 * launch — `/root/reference/spark-submit-cdm:1-39` re-dispatches without
 * re-injecting config). Unknown `spark.cdm.*` keys fail fast, mirroring the
 * wrapper's hard error on unknown properties
 * (`/root/reference/entrypoint.sh:146-149`).
 */
/** S7 — TLS settings for one cluster side (`spark.cdm.connect.*.tls.*`).
 * Typed passthrough: in production these feed the Cassandra connector's
 * SSL context (the wrapper imports the trust material with keytool,
 * `/root/reference/entrypoint.sh:189-221`); the parquet harness has no TLS
 * semantics, but a real cdm.properties must load unmodified (E4). */
final case class TlsConfig(
    enabled: Boolean,
    trustStorePath: Option[String],
    trustStorePassword: Option[String],
    trustStoreType: String,
    keyStorePath: Option[String],
    keyStorePassword: Option[String],
    enabledAlgorithms: Option[String]
)

final case class ClusterConfig(
    /** Directory holding one parquet file per table (harness stand-in for a
     * Cassandra cluster contact point, SURVEY.md §5.3). */
    path: String,
    /** Live-cluster contact point (`spark.cdm.connect.*.host/.port`) —
     * mutually exclusive with `scb`. Typed passthrough to the connector. */
    host: Option[String] = None,
    port: Option[Int] = None,
    /** Astra secure connect bundle path (`spark.cdm.connect.*.scb`). */
    scb: Option[String] = None,
    username: Option[String] = None,
    password: Option[String] = None,
    tls: TlsConfig = TlsConfig(false, None, None, "JKS", None, None, None)
)

/** Origin-side schema knobs (upstream reads these from live cluster
 * metadata in `schema/CqlTable.java`; the harness must be told). */
final case class SchemaConfig(
    table: String,
    /** Target table name when it differs from origin
     * (`spark.cdm.schema.target.keyspaceTable`); origin name otherwise. */
    targetTable: Option[String],
    /** Full primary key (partition key ++ clustering columns). */
    primaryKey: Seq[String],
    /** Origin→target column rename pairs,
     * `spark.cdm.schema.origin.column.names.to.target` = "a:b,c:d". */
    renameMap: Map[String, String],
    /** Columns to drop before write (skip list). */
    skipColumns: Seq[String],
    /** Writetime companion columns (harness convention `wt_<col>` /
     * explicit names via `spark.cdm.schema.origin.column.writetime.names`). */
    writetimeCols: Seq[String],
    ttlCols: Seq[String]
)

final case class FilterConfig(
    /** `spark.cdm.filter.cassandra.whereCondition` — pushed-down predicate. */
    whereCondition: Option[String],
    /** `spark.cdm.filter.cassandra.partition.min/.max` — token sub-ring. */
    tokenMin: Option[Long],
    tokenMax: Option[Long],
    /** `spark.cdm.filter.java.writetime.min/.max` — incremental window. */
    writetimeMin: Option[Long],
    writetimeMax: Option[Long],
    /** `spark.cdm.filter.java.column.name/.value` — drop matching rows. */
    columnName: Option[String],
    columnValue: Option[String],
    /** `spark.cdm.filter.java.token.percent` — deterministic ring sample. */
    tokenPercent: Option[Int]
)

final case class ConstantColumnsConfig(
    names: Seq[String],
    types: Seq[String],
    values: Seq[String]
)

final case class ExplodeMapConfig(originName: String, keyName: String, valueName: String)

final case class ExtractJsonConfig(originColumn: String, propertyMapping: String, overwrite: Boolean)

final case class TransformConfig(
    constantColumns: Option[ConstantColumnsConfig],
    explodeMap: Option[ExplodeMapConfig],
    extractJson: Option[ExtractJsonConfig],
    /** `spark.cdm.transform.codecs` — comma list such as
     * TIMESTAMP_STRING_FORMAT, INT_STRING, DOUBLE_STRING. */
    codecs: Seq[String],
    timestampStringFormat: Option[String],
    mapRemoveNullValue: Boolean,
    missingKeyTsReplace: Option[Long],
    customWritetime: Option[Long],
    customWritetimeIncrement: Long,
    customTtl: Option[Long]
)

/** `spark.cdm.autocorrect.missing` / `.mismatch`. The reference's
 * `spark.cdm.autocorrect.missing.counter` is accepted (a real
 * cdm.properties still loads) but not applied: no field carries it and
 * no job reads it. */
final case class AutocorrectConfig(missing: Boolean, mismatch: Boolean)

final case class PerfConfig(
    /** `spark.cdm.perfops.numParts` — scan parallelism; maps to the number
     * of input splits / shuffle partitions rather than hand-built token
     * slices (`[upstream] job/SplitPartitions.java`, SURVEY.md §4). */
    numParts: Option[Int],
    batchSize: Int,
    fetchSizeInRows: Int,
    printStatsAfter: Int,
    /** E2 — per-partition rows/s ceilings (reference defaults ≈20k origin /
     * ≈40k target; 0 = unthrottled). Parsed but not applied: no job reads
     * them, so every run is unthrottled. [[graft.run.RateLimiter]] is the
     * token bucket they would feed. */
    readRateLimit: Double,
    writeRateLimit: Double,
    /** E3 — consistency levels, passed through to the Cassandra connector
     * (`spark.cassandra.{input,output}.consistency.level`) in production;
     * no parquet-harness semantics. */
    consistencyRead: String,
    consistencyWrite: String
)

final case class GuardrailConfig(colSizeInKB: Int)

final case class TrackRunConfig(enabled: Boolean, previousRunId: Option[String], ledgerDir: Option[String])

/** S5 — failed-token-range partition files
 * (`spark.cdm.tokenrange.partitionFile.*`): `input` seeds a retry run with
 * previously-failed ranges, `output` records this run's failures,
 * `appendOnDiff` also records DiffData mismatched ranges. The harness's
 * [[graft.run.RunLedger]] is the parquet analog of these files. */
final case class PartitionFileConfig(
    input: Option[String],
    output: Option[String],
    appendOnDiff: Boolean
)

final case class CdmConfig(
    origin: ClusterConfig,
    target: ClusterConfig,
    schema: SchemaConfig,
    filters: FilterConfig,
    transform: TransformConfig,
    autocorrect: AutocorrectConfig,
    perf: PerfConfig,
    guardrail: GuardrailConfig,
    trackRun: TrackRunConfig,
    partitionFile: PartitionFileConfig
) {
  /** The target-side primary key: origin PK after renames, extended by the
   * explode-map key column when T2 is configured (upstream ExplodeMap
   * promotes the map key to a clustering column — SURVEY §7.5.6). */
  def effectivePrimaryKey: Seq[String] = {
    val renamed = schema.primaryKey.map(k => schema.renameMap.getOrElse(k, k))
    renamed ++ transform.explodeMap.map(_.keyName).filterNot(renamed.contains)
  }
}

object CdmConfig {
  /** Every key this engine understands; anything else under `spark.cdm.`
   * is rejected (E4 — `[upstream] PropertyHelper.isValidConfig()` plus the
   * wrapper's `error_exit` at `/root/reference/entrypoint.sh:146-149`). */
  /** Connection keys repeated per cluster side (S7/E3 parity: a real CDM
   * properties file must pass the unknown-key check unmodified). */
  private val PerSideConnectKeys: Seq[String] = Seq(
    "path", "host", "port", "scb", "username", "password",
    "tls.enabled", "tls.trustStore.path", "tls.trustStore.password",
    "tls.trustStore.type", "tls.keyStore.path", "tls.keyStore.password",
    "tls.enabledAlgorithms")

  val KnownKeys: Set[String] =
    (for {
      side <- Seq("origin", "target")
      key <- PerSideConnectKeys
    } yield s"spark.cdm.connect.$side.$key").toSet ++ Set(
    "spark.cdm.schema.origin.keyspaceTable",
    "spark.cdm.schema.target.keyspaceTable",
    "spark.cdm.schema.origin.primaryKey",
    "spark.cdm.schema.origin.column.names.to.target",
    "spark.cdm.schema.origin.column.skip",
    "spark.cdm.schema.origin.column.writetime.names",
    "spark.cdm.schema.origin.column.ttl.names",
    "spark.cdm.filter.cassandra.whereCondition",
    "spark.cdm.filter.cassandra.partition.min",
    "spark.cdm.filter.cassandra.partition.max",
    "spark.cdm.filter.java.writetime.min",
    "spark.cdm.filter.java.writetime.max",
    "spark.cdm.filter.java.column.name",
    "spark.cdm.filter.java.column.value",
    "spark.cdm.filter.java.token.percent",
    "spark.cdm.feature.constantColumns.names",
    "spark.cdm.feature.constantColumns.types",
    "spark.cdm.feature.constantColumns.values",
    "spark.cdm.feature.constantColumns.splitRegex",
    "spark.cdm.feature.explodeMap.origin.name",
    "spark.cdm.feature.explodeMap.target.name.key",
    "spark.cdm.feature.explodeMap.target.name.value",
    "spark.cdm.feature.extractJson.originColumn",
    "spark.cdm.feature.extractJson.propertyMapping",
    "spark.cdm.feature.extractJson.overwrite",
    "spark.cdm.feature.guardrail.colSizeInKB",
    "spark.cdm.transform.codecs",
    "spark.cdm.transform.codecs.timestamp.string.format",
    "spark.cdm.transform.map.remove.null.value",
    "spark.cdm.transform.missing.key.ts.replace.value",
    "spark.cdm.transform.custom.writetime",
    "spark.cdm.transform.custom.writetime.incrementBy",
    "spark.cdm.transform.custom.ttl",
    "spark.cdm.autocorrect.missing",
    "spark.cdm.autocorrect.mismatch",
    "spark.cdm.autocorrect.missing.counter",
    "spark.cdm.perfops.numParts",
    "spark.cdm.perfops.batchSize",
    "spark.cdm.perfops.fetchSizeInRows",
    "spark.cdm.perfops.printStatsAfter",
    "spark.cdm.perfops.ratelimit.origin",
    "spark.cdm.perfops.ratelimit.target",
    "spark.cdm.perfops.consistency.read",
    "spark.cdm.perfops.consistency.write",
    "spark.cdm.trackRun",
    "spark.cdm.trackRun.previousRunId",
    "spark.cdm.trackRun.ledgerDir",
    "spark.cdm.tokenrange.partitionFile.input",
    "spark.cdm.tokenrange.partitionFile.output",
    "spark.cdm.tokenrange.partitionFile.appendOnDiff"
  )

  def from(spark: SparkSession): CdmConfig = from(spark.sparkContext.getConf)

  /** Load a cdm.properties FILE from disk — the `--properties-file` path
   * the wrapper hands spark-submit (`/root/reference/entrypoint.sh:277`).
   * java.util.Properties parsing (ISO-8859-1, backslash escapes,
   * `key=value` / `key value` forms — the same dialect spark-submit
   * feeds SparkConf), non-`spark.cdm.*` keys ignored (a real properties
   * file carries spark.executor.* etc.), then the identical unknown-key
   * fail-fast and typed validation as the SparkConf path. */
  def fromPropertiesFile(path: String): CdmConfig = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    fromKnownKeys(props.asScala.toMap)
  }

  def from(conf: SparkConf): CdmConfig = fromKnownKeys(conf.getAll.toMap)

  /** The `spark.cdm.*` keys of `props`, failing fast on any unknown one,
   * built by [[fromMap]]; other keys are ignored. */
  private def fromKnownKeys(props: Map[String, String]): CdmConfig = {
    val cdm = props.filter(_._1.startsWith("spark.cdm."))
    val unknown = cdm.keySet -- KnownKeys
    require(unknown.isEmpty, s"Unknown spark.cdm.* properties: ${unknown.toSeq.sorted.mkString(", ")}")
    fromMap(cdm)
  }

  /** Pure builder used by tests and by `from(SparkConf)`. */
  def fromMap(p: Map[String, String]): CdmConfig = {
    def get(k: String): Option[String] = p.get(k).map(_.trim).filter(_.nonEmpty)
    def list(k: String, sep: String = ","): Seq[String] =
      get(k).map(_.split(sep).map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

    val renames = list("spark.cdm.schema.origin.column.names.to.target").map { pair =>
      pair.split(":") match {
        case Array(o, t) => o.trim -> t.trim
        case _ => throw new IllegalArgumentException(s"bad rename pair '$pair' (want origin:target)")
      }
    }.toMap

    val constants = (
      list("spark.cdm.feature.constantColumns.names"),
      list("spark.cdm.feature.constantColumns.types"),
      list("spark.cdm.feature.constantColumns.values", get("spark.cdm.feature.constantColumns.splitRegex").getOrElse(","))
    ) match {
      case (Nil, Nil, Nil) => None
      case (n, t, v) =>
        require(n.size == t.size && t.size == v.size,
          s"constantColumns names/types/values lengths differ: ${n.size}/${t.size}/${v.size}")
        Some(ConstantColumnsConfig(n, t, v))
    }

    val explode = get("spark.cdm.feature.explodeMap.origin.name").map { origin =>
      ExplodeMapConfig(
        origin,
        get("spark.cdm.feature.explodeMap.target.name.key").getOrElse(s"${origin}_key"),
        get("spark.cdm.feature.explodeMap.target.name.value").getOrElse(s"${origin}_value"))
    }

    val extract = get("spark.cdm.feature.extractJson.originColumn").map { origin =>
      ExtractJsonConfig(
        origin,
        get("spark.cdm.feature.extractJson.propertyMapping")
          .getOrElse(throw new IllegalArgumentException("extractJson.propertyMapping required")),
        get("spark.cdm.feature.extractJson.overwrite").exists(_.toBoolean))
    }

    def cluster(side: String): ClusterConfig = {
      def g(k: String) = get(s"spark.cdm.connect.$side.$k")
      val c = ClusterConfig(
        path = g("path").getOrElse(""),
        host = g("host"),
        port = g("port").map(_.toInt),
        scb = g("scb"),
        username = g("username"),
        password = g("password"),
        tls = TlsConfig(
          enabled = g("tls.enabled").exists(_.toBoolean),
          trustStorePath = g("tls.trustStore.path"),
          trustStorePassword = g("tls.trustStore.password"),
          trustStoreType = g("tls.trustStore.type").getOrElse("JKS"),
          keyStorePath = g("tls.keyStore.path"),
          keyStorePassword = g("tls.keyStore.password"),
          enabledAlgorithms = g("tls.enabledAlgorithms")))
      // an SCB embeds endpoint + TLS material; combining it with an
      // explicit contact point is a config contradiction (fail fast, E4)
      require(c.scb.isEmpty || c.host.isEmpty,
        s"spark.cdm.connect.$side: scb and host are mutually exclusive")
      require(c.tls.trustStorePath.nonEmpty || !c.tls.enabled || c.scb.nonEmpty,
        s"spark.cdm.connect.$side.tls.enabled requires tls.trustStore.path (or an scb)")
      c
    }

    val out = CdmConfig(
      origin = cluster("origin"),
      target = cluster("target"),
      schema = SchemaConfig(
        table = get("spark.cdm.schema.origin.keyspaceTable").getOrElse(""),
        targetTable = get("spark.cdm.schema.target.keyspaceTable"),
        primaryKey = list("spark.cdm.schema.origin.primaryKey"),
        renameMap = renames,
        skipColumns = list("spark.cdm.schema.origin.column.skip"),
        writetimeCols = list("spark.cdm.schema.origin.column.writetime.names"),
        ttlCols = list("spark.cdm.schema.origin.column.ttl.names")),
      filters = FilterConfig(
        whereCondition = get("spark.cdm.filter.cassandra.whereCondition"),
        tokenMin = get("spark.cdm.filter.cassandra.partition.min").map(_.toLong),
        tokenMax = get("spark.cdm.filter.cassandra.partition.max").map(_.toLong),
        writetimeMin = get("spark.cdm.filter.java.writetime.min").map(_.toLong),
        writetimeMax = get("spark.cdm.filter.java.writetime.max").map(_.toLong),
        columnName = get("spark.cdm.filter.java.column.name"),
        columnValue = get("spark.cdm.filter.java.column.value"),
        tokenPercent = get("spark.cdm.filter.java.token.percent").map(_.toInt)),
      transform = TransformConfig(
        constantColumns = constants,
        explodeMap = explode,
        extractJson = extract,
        codecs = list("spark.cdm.transform.codecs"),
        timestampStringFormat = get("spark.cdm.transform.codecs.timestamp.string.format"),
        mapRemoveNullValue = get("spark.cdm.transform.map.remove.null.value").exists(_.toBoolean),
        missingKeyTsReplace = get("spark.cdm.transform.missing.key.ts.replace.value").map(_.toLong),
        customWritetime = get("spark.cdm.transform.custom.writetime").map(_.toLong),
        customWritetimeIncrement = get("spark.cdm.transform.custom.writetime.incrementBy").map(_.toLong).getOrElse(0L),
        customTtl = get("spark.cdm.transform.custom.ttl").map(_.toLong)),
      autocorrect = AutocorrectConfig(
        missing = get("spark.cdm.autocorrect.missing").exists(_.toBoolean),
        mismatch = get("spark.cdm.autocorrect.mismatch").exists(_.toBoolean)),
      perf = PerfConfig(
        numParts = get("spark.cdm.perfops.numParts").map(_.toInt),
        batchSize = get("spark.cdm.perfops.batchSize").map(_.toInt).getOrElse(5),
        fetchSizeInRows = get("spark.cdm.perfops.fetchSizeInRows").map(_.toInt).getOrElse(1000),
        printStatsAfter = get("spark.cdm.perfops.printStatsAfter").map(_.toInt).getOrElse(100000),
        readRateLimit = get("spark.cdm.perfops.ratelimit.origin").map(_.toDouble).getOrElse(0.0),
        writeRateLimit = get("spark.cdm.perfops.ratelimit.target").map(_.toDouble).getOrElse(0.0),
        consistencyRead = get("spark.cdm.perfops.consistency.read").getOrElse("LOCAL_QUORUM"),
        consistencyWrite = get("spark.cdm.perfops.consistency.write").getOrElse("LOCAL_QUORUM")),
      guardrail = GuardrailConfig(
        colSizeInKB = get("spark.cdm.feature.guardrail.colSizeInKB").map(_.toInt).getOrElse(0)),
      trackRun = TrackRunConfig(
        enabled = get("spark.cdm.trackRun").exists(_.toBoolean),
        previousRunId = get("spark.cdm.trackRun.previousRunId"),
        ledgerDir = get("spark.cdm.trackRun.ledgerDir")),
      partitionFile = PartitionFileConfig(
        input = get("spark.cdm.tokenrange.partitionFile.input"),
        output = get("spark.cdm.tokenrange.partitionFile.output"),
        appendOnDiff = get("spark.cdm.tokenrange.partitionFile.appendOnDiff").exists(_.toBoolean))
    )
    // T2 makes the exploded key part of the primary key; its name (and the
    // value's) must not shadow an existing PK column.
    out.transform.explodeMap.foreach { e =>
      val pk = out.schema.primaryKey.map(k => out.schema.renameMap.getOrElse(k, k))
      require(!pk.contains(e.keyName) && !pk.contains(e.valueName),
        s"explodeMap key/value column '${e.keyName}'/'${e.valueName}' collides with a primary-key column")
    }
    out
  }
}
