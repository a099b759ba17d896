package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.{ClusterConfig, PerfConfig}

/**
 * Production table backend: the spark-cassandra-connector DataSource
 * (format `org.apache.spark.sql.cassandra`), configured from the same
 * [[ClusterConfig]] the parquet harness uses.
 *
 * This is what the reference actually talks to — entrypoint.sh spark-submits
 * against live origin/target contact points (`/root/reference/entrypoint.sh:274-283`)
 * and the connector performs the token-range-parallel scan natively, giving
 * the same splits as `[upstream] job/SplitPartitions.java` plus real
 * predicate pushdown to CQL.
 *
 * The format is referenced BY NAME, so this class compiles (and the option
 * mapping is unit-tested) without the connector jar on the classpath; at
 * runtime Spark resolves the DataSource only when one of these methods is
 * invoked. The zero-egress harness therefore keeps parquet as its
 * execution path — every operator above [[TableIO]] is byte-identical
 * across backends, which is the whole point of the seam.
 */
object CassandraTableIO {

  /** The connector's DataSource V2 name (public: spark-cassandra-connector
   * docs, `org.apache.spark.sql.cassandra`). */
  val Format = "org.apache.spark.sql.cassandra"

  /** Session override for the source format behind this seam. Tests point
   * it at [[MemCqlProvider]] (the in-memory CQL-shaped DSv2) so Migrate/
   * DiffData/Guardrail run END-TO-END through the exact option map,
   * pushdown, and batched-upsert code paths below — the zero-egress
   * sandbox's substitute for a live cluster. Production leaves it unset. */
  val FormatConf = "spark.graft.cassandra.format"

  private def format(spark: SparkSession): String =
    spark.conf.get(FormatConf, Format)

  /** Map a [[ClusterConfig]] onto the connector's `spark.cassandra.*`
   * option surface (public option names from the connector's reference
   * docs). Pure — unit-testable without a cluster. */
  def connectorOptions(c: ClusterConfig, perf: Option[PerfConfig] = None): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    c.host.foreach(h => b += "spark.cassandra.connection.host" -> h)
    c.port.foreach(p => b += "spark.cassandra.connection.port" -> p.toString)
    // an Astra secure connect bundle replaces host/port/TLS wholesale
    c.scb.foreach(s => b += "spark.cassandra.connection.config.cloud.path" -> s)
    c.username.foreach(u => b += "spark.cassandra.auth.username" -> u)
    c.password.foreach(p => b += "spark.cassandra.auth.password" -> p)
    if (c.tls.enabled) {
      b += "spark.cassandra.connection.ssl.enabled" -> "true"
      c.tls.trustStorePath.foreach(p => b += "spark.cassandra.connection.ssl.trustStore.path" -> p)
      c.tls.trustStorePassword.foreach(p => b += "spark.cassandra.connection.ssl.trustStore.password" -> p)
      b += "spark.cassandra.connection.ssl.trustStore.type" -> c.tls.trustStoreType
      c.tls.keyStorePath.foreach { p =>
        b += "spark.cassandra.connection.ssl.clientAuth.enabled" -> "true"
        b += "spark.cassandra.connection.ssl.keyStore.path" -> p
      }
      c.tls.keyStorePassword.foreach(p => b += "spark.cassandra.connection.ssl.keyStore.password" -> p)
      c.tls.enabledAlgorithms.foreach(a => b += "spark.cassandra.connection.ssl.enabledAlgorithms" -> a)
    }
    perf.foreach { p =>
      // E3 passthrough: consistency + fetch/batch sizing map onto the
      // connector's input/output knobs (S3 batching is native: unlogged
      // batches grouped by partition key). E2 rate limits are NOT mapped:
      // CDM's ratelimit.* is rows/second while the connector only offers
      // throughputMBPerSec (megabytes/second) — a unit mismatch that
      // would mis-throttle by orders of magnitude. The parsed limits are
      // not applied anywhere yet (graft.run.RateLimiter is unwired).
      b += "spark.cassandra.input.consistency.level" -> p.consistencyRead
      b += "spark.cassandra.output.consistency.level" -> p.consistencyWrite
      b += "spark.cassandra.input.fetch.sizeInRows" -> p.fetchSizeInRows.toString
      b += "spark.cassandra.output.batch.grouping.key" -> "partition"
      // CDM's perfops.batchSize is rows-per-unlogged-batch — the
      // connector's output.batch.size.rows is the same unit
      b += "spark.cassandra.output.batch.size.rows" -> p.batchSize.toString
    }
    b.result()
  }

  /** `keyspace.table` → (keyspace, table); a bare name maps to the
   * `cdm` keyspace stand-in. */
  def splitKeyspaceTable(keyspaceTable: String): (String, String) =
    keyspaceTable.split('.') match {
      case Array(ks, tbl) => (ks, tbl)
      case Array(tbl)     => ("cdm", tbl)
      case parts          => (parts.head, parts.tail.mkString("."))
    }

  /** Read one live table. The connector plans one Spark partition per
   * token range group and pushes eligible predicates/projections into CQL
   * — the production analog of the harness's parquet row-group splits. */
  def read(spark: SparkSession, cluster: ClusterConfig, keyspaceTable: String,
      perf: Option[PerfConfig] = None): DataFrame = {
    val (ks, tbl) = splitKeyspaceTable(keyspaceTable)
    spark.read.format(format(spark))
      .options(connectorOptions(cluster, perf))
      .option("keyspace", ks)
      .option("table", tbl)
      .load()
  }

  /** Append-write one table (CQL upserts are idempotent by PK, so Spark
   * task retries are safe — the S3 batched-upsert sink). */
  def write(df: DataFrame, cluster: ClusterConfig, keyspaceTable: String,
      perf: Option[PerfConfig] = None): Unit = {
    val (ks, tbl) = splitKeyspaceTable(keyspaceTable)
    df.write.format(format(df.sparkSession))
      .options(connectorOptions(cluster, perf))
      .option("keyspace", ks)
      .option("table", tbl)
      .mode("append")
      .save()
  }
}
