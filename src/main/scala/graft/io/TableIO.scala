package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/**
 * Origin/target table access.
 *
 * The reference reads a Cassandra table via token-range-parallel CQL scans
 * (`[upstream] job/SplitPartitions.java` +
 * `cql/statement/OriginSelectByPartitionRangeStatement.java`, pinned by
 * `/root/reference/entrypoint.sh:281`) and writes via batched upserts. In
 * the Spark-native engine both sides are DataFrames: production would slot
 * in the spark-cassandra-connector (which performs the identical
 * token-partitioned scan natively); the harness reads/writes parquet
 * directories — one directory per "cluster", one file per table
 * (SURVEY.md §5.3).
 *
 * Scale note (100 TB posture): reads stay fully declarative so Catalyst
 * pushes predicates/projections into the scan; no collect(), no
 * driver-side row handling anywhere in this layer.
 */
object TableIO {

  /** Read one origin/target table. `dir` = cluster stand-in directory.
   *
   * The events fixture's `ts` column has drifted across driver regens —
   * parquet TIMESTAMP(NANOS) (surfacing as a nanosecond LONG under
   * `spark.sql.legacy.parquet.nanosAsLong`), then parquet `timestamp[us]`
   * with no timezone (surfacing as TIMESTAMP_NTZ). The engine's contract
   * is a µs instant-typed TimestampType (every consumer calls
   * `unix_micros(ts)` / `window(ts, …)`), so this seam normalizes ALL
   * known physical shapes to that one logical type:
   *   - LongType (legacy nanos) → `timestamp_micros(ts div 1000)`
   *   - TimestampNTZType (current fixtures) → cast to TimestampType; every
   *     session pins `spark.sql.session.timeZone=UTC`, so the NTZ wall
   *     clock IS the UTC instant and the cast is value-identical to what
   *     the DuckDB oracle reads from the same file
   *   - TimestampType → already the contract, passthrough
   * Normalizing here, once, keeps the other three shapes out of every
   * operator; FixtureContractSpec pins the post-read schema so the next
   * fixture drift fails one named test instead of 11 scattered queries. */
  /** Tables whose `ts` column carries event-time instants and is subject
   * to the normalization above. Keyed on an explicit allowlist, NOT on
   * any column named `ts` — a future table whose long `ts` is already µs,
   * or a plain counter, must not be silently rewritten by a name-based
   * heuristic. */
  private val EventTsTables: Set[String] = Set("events")

  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    val df = read(spark, s"$dir/$table.parquet")
    if (!EventTsTables.contains(table)) df
    else df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // The NTZ→instant cast evaluates under the SESSION timezone —
        // value-identical to the oracle only when that is UTC. Every
        // session this library builds pins UTC (build.sbt, Main, Verify,
        // Bench, tests); a foreign session that didn't would silently
        // shift every instant by its zone offset here, so fail loud
        // instead of corrupting event time.
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          s"TableIO.read($table): events.ts is TIMESTAMP_NTZ and the session timezone is " +
            s"'${spark.conf.get("spark.sql.session.timeZone")}' — the NTZ normalization contract " +
            "requires spark.sql.session.timeZone=UTC (see SURVEY §7.5.2)")
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Read a parquet path with the schema Spark's own inference would give
   * it, taken from ONE footer read on the driver, so building the frame
   * runs no schema-inference job (`spark.read.parquet` runs a one-task
   * job to infer). Spark's own file listing still runs a job for a path
   * with more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
   * directories.
   *
   * The footer is the file `ParquetUtils.inferSchema` picks when
   * `mergeSchema` is off: `_common_metadata`, else `_metadata`, else the
   * first data file in path-string order, skipping hidden names by the
   * file index's rule (`HadoopFSUtils.shouldFilterOutPathName`, so Hive
   * `__part=N` directories count). The walk lists one directory per level
   * and stops at the first data file, so a large partitioned table is not
   * listed twice; summary files are honored in the directories it lists,
   * which is where Spark's writers put them (the table root). The footer
   * converts with `ParquetFileFormat.readSchemaFromFooter`, as inference
   * does. A path with no data file, a session with `mergeSchema` on, or a
   * footer that repeats a partition column keeps Spark's own read (and
   * error).
   *
   * It is a footer read per call, not a memo keyed on the path: a table
   * rewritten in place (every autocorrect swap) is read with the schema
   * it has now, never a stale one. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val footer =
      if (conf.isParquetSchemaMergingEnabled) None
      else schemaFile(root.getFileSystem(hadoopConf), root)
    footer match {
      case Some((file, partKeys)) =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
          new ParquetToSparkSchemaConverter(conf))
        if (schema.fieldNames.exists(n => partKeys.exists(_.equalsIgnoreCase(n)))) spark.read.parquet(path)
        else spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The file [[read]] takes the schema from, with the partition column
   * names of the directories above it; None when there is no data file. */
  private def schemaFile(fs: FileSystem, root: Path): Option[(FileStatus, List[String])] = {
    def visible(name: String) =
      name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
        !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_"))
    // within one directory this orders like Spark's global sort of leaf
    // paths: a directory's leaves all start with "<dir>/"
    def order(s: FileStatus) = s.getPath.getName match {
      case ParquetFileWriter.PARQUET_COMMON_METADATA_FILE => (0, "")
      case ParquetFileWriter.PARQUET_METADATA_FILE => (1, "")
      case _ => (2, s.getPath.toString + (if (s.isDirectory) "/" else ""))
    }
    def first(dir: Path, keys: List[String]): Option[(FileStatus, List[String])] =
      fs.listStatus(dir).filter(s => visible(s.getPath.getName)).sortBy(order).iterator
        .map { s =>
          if (!s.isDirectory) Some((s, keys))
          else {
            val name = s.getPath.getName
            first(s.getPath, if (name.contains("=")) name.takeWhile(_ != '=') :: keys else keys)
          }
        }
        .collectFirst { case Some(hit) => hit }
    try {
      val status = fs.getFileStatus(root)
      if (status.isDirectory) first(root, Nil) else Some((status, Nil))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Backend dispatch: a cluster with a live contact point (host or SCB)
   * reads through the Cassandra connector (with the perfops consistency/
   * fetch knobs applied); otherwise the parquet harness path. Operator
   * code above this seam is identical for both. */
  def read(spark: SparkSession, cluster: graft.config.ClusterConfig, table: String,
      perf: Option[graft.config.PerfConfig] = None): DataFrame =
    if (cluster.host.nonEmpty || cluster.scb.nonEmpty) CassandraTableIO.read(spark, cluster, table, perf)
    else read(spark, cluster.path, table)

  /** Write a table to the target cluster stand-in. The production sink is
   * the Cassandra connector, which groups unlogged batches by partition
   * key natively (`spark.cassandra.output.batch.grouping.key=partition`),
   * matching `[upstream] CopyJobSession` batching (SURVEY.md §2.2 S3). */
  def write(df: DataFrame, dir: String, table: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(s"$dir/$table.parquet")

  /** Backend-dispatching write (see the read overload). `perf` is
   * explicit (no default) because the sibling parquet overload already
   * defaults `mode` and Scala forbids two defaulted overloads. */
  def write(df: DataFrame, cluster: graft.config.ClusterConfig, table: String,
      perf: Option[graft.config.PerfConfig]): Unit =
    if (cluster.host.nonEmpty || cluster.scb.nonEmpty) CassandraTableIO.write(df, cluster, table, perf)
    else write(df, cluster.path, table)

  private def swapPaths(spark: SparkSession, dir: String, table: String) = {
    val live = new Path(s"$dir/$table.parquet")
    (live.getFileSystem(spark.sparkContext.hadoopConfiguration), live,
      new Path(s"$dir/$table.parquet.__staging"), new Path(s"$dir/$table.parquet.__old"))
  }

  /** Finish or discard a [[swap]] that a crash interrupted. Call it
   * before reading the table. The swap only ever MOVES the live table
   * (write staging → rename live to `.__old` → rename staging to live →
   * delete `.__old`), so no crash leaves it partly deleted:
   *  - a staging directory carrying Spark's `_SUCCESS` marker with no
   *    live table is a complete write whose rename never ran: it IS the
   *    last durable state, and the rename is finished;
   *  - any other staging directory (an unfinished write, or one beside
   *    a live table) is discarded;
   *  - `.__old` is the pre-swap table: swept once a live table exists,
   *    moved back when none does. */
  def recoverSwap(spark: SparkSession, dir: String, table: String): Unit = {
    val (fs, live, staging, old) = swapPaths(spark, dir, table)
    if (fs.exists(staging)) {
      if (!fs.exists(live) && fs.exists(new Path(staging, "_SUCCESS")))
        require(fs.rename(staging, live), s"recovery rename failed for $live")
      else fs.delete(staging, true)
    }
    if (fs.exists(old)) {
      if (fs.exists(live)) fs.delete(old, true)
      else require(fs.rename(old, live), s"recovery restore failed for $live")
    }
  }

  /** Replace a parquet table with `df`, which may read that table: a
   * parquet overwrite cannot read its own input path, so `df` is written
   * once to a staging directory, the live table is renamed aside, the
   * staging directory is renamed into its place and the old table is
   * deleted — `run.LedgerSwap`'s move-aside. A crash leaves state that
   * [[recoverSwap]] resolves. `partitionCols` gives the staging write a
   * Hive partition layout. */
  def swap(df: DataFrame, dir: String, table: String, partitionCols: Seq[String] = Nil): Unit = {
    val (fs, live, staging, old) = swapPaths(df.sparkSession, dir, table)
    val w = df.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(staging.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live)) require(fs.rename(live, old), s"staging swap (move-aside) failed for $live")
    require(fs.rename(staging, live), s"staging swap failed for $live")
    fs.delete(old, true)
  }

  /**
   * Bucketed write — the 100 TB co-location path (SURVEY.md §7.5.8):
   * both sides of a recurring PK join (origin/target reconciliation, the
   * multimodal id join) written with the same bucketing never shuffle
   * again — Spark's bucket-aware scan aligns partitions at read time, so
   * DiffData on two 50 TB tables moves zero rows over the network.
   * Bucketing requires the session catalog, hence saveAsTable (set
   * `spark.sql.warehouse.dir` to the target path's filesystem).
   */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String], buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /**
   * Hive-layout partitioned write — the 100 TB partition-pruning path:
   * a facet column (ingest date, language, tenant) becomes the directory
   * key, so a query filtering on it never opens non-matching files at
   * all (`PartitionFilters` on the scan; pruned partitions cost zero
   * I/O). This is the first-order scan-cost lever, ahead of row-group
   * min/max skipping and row-level pushdown — PartitionPruneSpec proves
   * the plan prunes to exactly the matching directories.
   */
  def writePartitioned(df: DataFrame, dir: String, table: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(s"$dir/$table.parquet")

  /**
   * JSON-lines export/import — the interchange format training corpora
   * actually arrive in. Schema is EXPLICIT on read: at 100 TB, schema
   * inference is a full extra pass over the data (Spark samples, but
   * still opens files) and silently widens types; a declared schema costs
   * zero I/O and fails loudly on drift. Text round-trips exactly (JSON
   * escaping handles embedded newlines/quotes/unicode).
   */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonLines(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV export/import, same explicit-schema discipline; header on, Spark
   * quotes embedded delimiters/quotes per RFC 4180. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC export/import — the other columnar interchange format large
   * warehouses hand over (Hive-lineage pipelines emit ORC, not parquet).
   * Columnar + typed, so schema is carried by the files; declared on
   * read anyway for the same drift-fails-loudly discipline as the text
   * formats. ZLIB default compression, predicate pushdown and column
   * pruning work exactly as for parquet scans. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Unique scratch directory under java.io.tmpdir, removed recursively
   * at JVM exit. Round-trip queries write through this instead of a
   * fixed path: two concurrent harness/bench invocations over the same
   * data dir must not race on one overwrite-mode location, and the
   * returned frame reads the path LAZILY, so in-query deletion is not an
   * option — exit-time cleanup is (round-10 advisory). */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$prefix").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }))
    dir.getAbsolutePath
  }

  /**
   * Deterministic stand-in for the Cassandra Murmur3 ring token of a
   * partition key (`token(pk)` in the reference's range-scan CQL).
   *
   * A multiplicative (Knuth) hash is used instead of Murmur3 so the DuckDB
   * oracle can evaluate the identical arithmetic: `(pk * 2654435761) mod
   * 2^31`, non-negative, range [0, 2^31). Production against a live
   * cluster would use the connector's real token; exact Murmur3 parity is
   * deliberately deferred (SURVEY.md §7.4).
   *
   * For a compound partition key pass the leading partition-key column(s)
   * combined upstream; here single numeric keys (the fixtures' model)
   * are supported directly.
   */
  val TokenModulus: Long = 1L << 31

  def tokenOf(pkCol: Column): Column =
    // 31-bit pre-mask: a raw pk * 2654435761 overflows int64 past
    // |pk| ~ 3.47e9 (ANSI arithmetic error on snowflake-scale ids; silent
    // wrap otherwise) — mask first so the product stays in range for the
    // full long domain, identity for the fixtures' small keys
    pmod(pmod(pkCol.cast("long"), lit(TokenModulus)) * lit(2654435761L), lit(TokenModulus))

  /** Exact Cassandra Murmur3Partitioner token of a bigint partition key
   * (live-cluster ring parity — the token a real origin cluster's range
   * scans and SplitPartitions slices use). DuckDB cannot evaluate it, so
   * harness queries keep the arithmetic stand-in for oracle-checked paths
   * and expose this via a rows-only query. Core mixing validated
   * bit-for-bit against Guava's murmur3_128; Cassandra's signed-byte tail
   * promotion implemented per its public quirk (Murmur3RingSpec). */
  def cassandraTokenOf(pkCol: Column): Column =
    org.apache.spark.sql.graft.CassandraMurmur3Token.token(pkCol.cast("long"))

  /** Exact Murmur3 ring token of an arbitrary partition key: bigint/int/
   * text/blob columns serialize per CQL; MULTI-column keys hash the
   * CompositeType concatenation (2-byte length + bytes + 0x00 per
   * component) — byte-identical to what a live cluster hashes. */
  def cassandraTokenOfKey(pkCols: Seq[Column]): Column =
    org.apache.spark.sql.graft.CassandraMurmur3Token.tokenOfKey(pkCols)

  /** Compound-partition-key token: mix each component with a distinct odd
   * multiplier before reduction (Cassandra composite partition keys hash
   * the serialized concatenation; this is the arithmetic stand-in). */
  def tokenOfCompound(pkCols: Seq[Column]): Column =
    // Horner fold with per-step reduction, NOT a sum of per-component
    // mixers: the old mixer sequence grew past 2^36 by the second
    // component, overflowing int64 on large keys, and the unreduced sum
    // of products could overflow even with masked components. Every
    // intermediate here is < 2^31 * 2654435761 < 2^63.
    pkCols.foldLeft(lit(0L))((acc, c) =>
      pmod(acc * lit(2654435761L) + pmod(c.cast("long"), lit(TokenModulus)), lit(TokenModulus)))

  /** Deterministic percentage sampling bucket (P7), using a genuinely
   * different odd multiplier (xxhash32 prime) than tokenOf. The product
   * is reduced mod [[TokenModulus]] BEFORE the mod-100: a direct
   * `(pk·m) mod 100` collapses to a bijection of `pk mod 100` (the
   * multiplier contributes nothing past a residue permutation), so keys
   * allocated in blocks of 100 — or ms-timestamps at second granularity
   * — would all share one bucket and sample at 0% or 100% instead of
   * pct%. The intermediate reduction folds the key's HIGH bits into the
   * bucket, breaking that structure. The bucket then takes the HIGH bits
   * of the mixed value (`(mixed·100) >> 31`), never `mod 100`: a low-bit
   * residue of the reduced product is still a lattice (gcd(2³¹ mod 100,
   * 100) = 4 → only 25 reachable buckets for block-structured keys —
   * measured), while the top bits are where the multiplier actually
   * mixes. */
  def tokenPercentBucket(pkCol: Column): Column =
    shiftright(pmod(pmod(pkCol.cast("long"), lit(TokenModulus)) * lit(2246822519L), lit(TokenModulus)) * lit(100L), 31)
}
