package graft.io

import java.util
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * In-memory CQL-shaped DataSource V2 — the test double that proves the
 * Cassandra-connector seam (`CassandraTableIO`) without a live cluster.
 *
 * The spark-cassandra-connector's externally observable contract, which
 * the real reference stack depends on (`/root/reference/entrypoint.sh:274-283`
 * spark-submits against live contact points), is modeled surface-for-surface:
 *
 *  - **option addressing**: tables resolve by `spark.cassandra.connection.host`
 *    (the cluster) + `keyspace` + `table` options — exactly what
 *    [[CassandraTableIO.connectorOptions]] emits;
 *  - **token-range-parallel scan**: `planInputPartitions` splits rows into
 *    partition-key-hash groups, one Spark partition per "token range group"
 *    (`[upstream] job/SplitPartitions.java` is the reference's hand-built
 *    equivalent);
 *  - **predicate pushdown** ([[SupportsPushDownFilters]]): the CQL-expressible
 *    subset (comparisons, IN, null checks, AND) is accepted and evaluated at
 *    the "server"; everything else is returned to Spark as a residual —
 *    same split the connector performs when it builds CQL WHERE clauses;
 *  - **column pruning** ([[SupportsPushDownRequiredColumns]]): the scan
 *    returns only the pruned columns, like a CQL SELECT list;
 *  - **upsert writes in partition-grouped unlogged batches**: appends merge
 *    by full primary key (CQL INSERT semantics — task retries are
 *    idempotent), and each task groups rows into batches keyed by the
 *    partition key, capped at `spark.cassandra.output.batch.size.rows`
 *    (`output.batch.grouping.key=partition`, the S3 batching the reference
 *    relies on via `[upstream] CopyJobSession`).
 *
 * Every scan and write records what was pushed/batched in [[MemCqlStore]],
 * so specs assert the *connector-facing* behavior (which predicates reached
 * the source, which columns were fetched, how writes were batched) rather
 * than trusting the option map. Activate by setting
 * `spark.graft.cassandra.format=graft.io.MemCqlProvider` — every operator
 * above [[TableIO]] then runs byte-identical against this backend.
 */
object MemCqlStore {

  /** One recorded scan: what the engine pushed into the source, plus the
   * full option map the source was addressed with — the SIT specs assert
   * the perfops properties (consistency level, fetch size) actually
   * reached the connector seam instead of trusting [[CassandraTableIO
   * .connectorOptions]] in isolation. */
  final case class ScanRecord(
      pushed: Seq[Filter],
      residual: Seq[Filter],
      requiredColumns: Seq[String],
      numPartitions: Int,
      options: Map[String, String] = Map.empty)

  /** One recorded write: how the sink batched. Every batch holds rows of a
   * single partition key (asserted at write time), at most `batchRowCap`
   * rows each. */
  final case class WriteRecord(
      numBatches: Int,
      maxBatchRows: Int,
      totalRows: Int,
      batchRowCap: Int,
      groupingKey: String,
      options: Map[String, String] = Map.empty)

  final class TableState(
      val schema: StructType,
      val partitionKey: Seq[String],
      val primaryKey: Seq[String]) {
    /** Row storage keyed by full-PK values (CQL upsert identity). Insertion
     * order preserved so reads are deterministic. */
    val rows: mutable.LinkedHashMap[Seq[Any], Seq[Any]] = mutable.LinkedHashMap.empty
    var lastScan: Option[ScanRecord] = None
    var lastWrite: Option[WriteRecord] = None

    def pkOrdinals: Seq[Int] = primaryKey.map(schema.fieldIndex)
    def partitionKeyOrdinals: Seq[Int] = partitionKey.map(schema.fieldIndex)
  }

  private val tables = mutable.Map.empty[(String, String), TableState]

  private def key(cluster: String, keyspaceTable: String): (String, String) =
    (cluster, keyspaceTable.toLowerCase)

  /** DDL: create (or replace) a table. `partitionKey` is the leading PK
   * subset that drives token placement and write batching. */
  def create(cluster: String, keyspaceTable: String, schema: StructType,
      primaryKey: Seq[String], partitionKey: Seq[String] = Nil): TableState = synchronized {
    require(primaryKey.nonEmpty, s"$keyspaceTable: primary key required")
    val pkPart = if (partitionKey.nonEmpty) partitionKey else primaryKey.take(1)
    val st = new TableState(schema, pkPart, primaryKey)
    tables(key(cluster, keyspaceTable)) = st
    st
  }

  def get(cluster: String, keyspaceTable: String): TableState = synchronized {
    tables.getOrElse(key(cluster, keyspaceTable), throw new NoSuchElementException(
      s"MemCql table $keyspaceTable not found in cluster '$cluster' — create it first"))
  }

  /** Seed rows through the same upsert path writes use. */
  def insert(cluster: String, keyspaceTable: String, rows: Seq[Seq[Any]]): Unit = synchronized {
    val st = get(cluster, keyspaceTable)
    val ords = st.pkOrdinals
    rows.foreach(r => st.rows(ords.map(r)) = r)
  }

  def upsert(st: TableState, rows: Seq[Seq[Any]]): Unit = synchronized {
    val ords = st.pkOrdinals
    rows.foreach(r => st.rows(ords.map(r)) = r)
  }

  def dropAll(): Unit = synchronized(tables.clear())

  /** CQL-expressible filter evaluation (the pushable subset). Numeric
   * comparisons go through BigDecimal so int/long/double/decimal literals
   * compare exactly against any numeric column type. */
  private[io] def evalFilter(f: Filter, row: Seq[Any], schema: StructType): Boolean = {
    def v(col: String): Any = row(schema.fieldIndex(col))
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Number, y: java.lang.Number) =>
        new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString))
      case (x: String, y: String) => x.compareTo(y)
      case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
      case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
      case _ => throw new IllegalArgumentException(s"uncomparable: $a vs $b")
    }
    f match {
      case EqualTo(c, x) => v(c) != null && cmp(v(c), x) == 0
      case GreaterThan(c, x) => v(c) != null && cmp(v(c), x) > 0
      case GreaterThanOrEqual(c, x) => v(c) != null && cmp(v(c), x) >= 0
      case LessThan(c, x) => v(c) != null && cmp(v(c), x) < 0
      case LessThanOrEqual(c, x) => v(c) != null && cmp(v(c), x) <= 0
      case In(c, xs) => v(c) != null && xs.exists(x => cmp(v(c), x) == 0)
      case IsNull(c) => v(c) == null
      case IsNotNull(c) => v(c) != null
      case And(l, r) => evalFilter(l, row, schema) && evalFilter(r, row, schema)
    }
  }

  /** Is this filter in the CQL-pushable subset? (mirrors the shape of the
   * connector's `BasicCassandraPredicatePushDown` contract: simple
   * column-vs-literal predicates; OR / NOT / nested expressions stay in
   * Spark). */
  private[io] def pushable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull => true
    case And(l, r) => pushable(l) && pushable(r)
    case _ => false
  }
}

/** Format class: `spark.read.format("graft.io.MemCqlProvider")`. */
class MemCqlProvider extends TableProvider {
  import MemCqlProvider._

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    state(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new MemCqlTable(cluster(opts), keyspaceTable(opts))
  }
}

object MemCqlProvider {
  /** The option [[CassandraTableIO.connectorOptions]] uses for the contact
   * point doubles as the mem-cluster id. */
  val ClusterOption = "spark.cassandra.connection.host"
  val BatchRowsOption = "spark.cassandra.output.batch.size.rows"
  val GroupingKeyOption = "spark.cassandra.output.batch.grouping.key"
  /** Scan parallelism (stands in for the ring's token-range group count). */
  val Splits = 4

  /** SCB addressing: an Astra secure-connect-bundle config carries no
   * contact point — [[CassandraTableIO.connectorOptions]] emits the
   * bundle path instead. The mem model resolves either as the cluster
   * id, so SCB-addressed clusters run the same e2e path. */
  val ScbOption = "spark.cassandra.connection.config.cloud.path"

  private def cluster(o: CaseInsensitiveStringMap): String = {
    val c = Option(o.get(ClusterOption)).filter(_.nonEmpty)
      .orElse(Option(o.get(ScbOption)).filter(_.nonEmpty))
    require(c.nonEmpty, s"MemCql needs $ClusterOption (or $ScbOption) as the cluster id")
    c.get
  }
  private def keyspaceTable(o: CaseInsensitiveStringMap): String = {
    val ks = Option(o.get("keyspace")).getOrElse("cdm")
    val t = o.get("table")
    require(t != null && t.nonEmpty, "MemCql needs a table option")
    if (ks == "cdm") t else s"$ks.$t"
  }
  private def state(o: CaseInsensitiveStringMap): MemCqlStore.TableState =
    MemCqlStore.get(cluster(o), keyspaceTable(o))
}

class MemCqlTable(cluster: String, keyspaceTable: String)
    extends Table with SupportsRead with SupportsWrite {
  private def st = MemCqlStore.get(cluster, keyspaceTable)

  override def name(): String = s"memcql://$cluster/$keyspaceTable"
  override def schema(): StructType = st.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  // recorded option keys are LOWERCASED (DSv2 option maps are
  // case-insensitive; Spark may hand back either casing) so spec lookups
  // are deterministic
  private def lowered(o: CaseInsensitiveStringMap): Map[String, String] =
    o.asCaseSensitiveMap().asScala.map { case (k, v) => k.toLowerCase -> v }.toMap

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemCqlScanBuilder(cluster, keyspaceTable, lowered(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val batchRows = Option(info.options.get(MemCqlProvider.BatchRowsOption)).map(_.toInt).getOrElse(5)
    val grouping = Option(info.options.get(MemCqlProvider.GroupingKeyOption)).getOrElse("partition")
    new MemCqlWriteBuilder(cluster, keyspaceTable, info.schema(), batchRows, grouping,
      lowered(info.options))
  }
}

class MemCqlScanBuilder(cluster: String, keyspaceTable: String,
    options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private def st = MemCqlStore.get(cluster, keyspaceTable)
  private var pushed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var required: StructType = st.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(MemCqlStore.pushable)
    pushed = ok
    residual = rest
    rest // Spark re-applies these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = {
    val s = st
    s.lastScan = Some(MemCqlStore.ScanRecord(
      pushed.toSeq, residual.toSeq, required.fieldNames.toSeq, MemCqlProvider.Splits, options))
    new MemCqlScan(cluster, keyspaceTable, pushed, required)
  }
}

/** The scan snapshots + filters + projects on the driver (the "server
 * side" of the model) and ships each token-range group as one serialized
 * input partition — the executor side never touches the shared store, so
 * the source behaves identically in a real multi-JVM deployment. */
class MemCqlScan(cluster: String, keyspaceTable: String, pushed: Array[Filter],
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"MemCqlScan($keyspaceTable, pushed=${pushed.mkString(",")}, cols=${required.fieldNames.mkString(",")})"

  override def planInputPartitions(): Array[InputPartition] = {
    val st = MemCqlStore.get(cluster, keyspaceTable)
    val fullSchema = st.schema
    val ords = required.fieldNames.map(fullSchema.fieldIndex)
    val pkOrds = st.partitionKeyOrdinals
    val splits = MemCqlProvider.Splits
    val groups = Array.fill(splits)(mutable.ArrayBuffer.empty[Seq[Any]])
    MemCqlStore.synchronized {
      st.rows.valuesIterator.foreach { row =>
        if (pushed.forall(MemCqlStore.evalFilter(_, row, fullSchema))) {
          val slot = math.floorMod(pkOrds.map(row).hashCode(), splits)
          groups(slot) += ords.map(row).toSeq
        }
      }
    }
    groups.map(g => MemCqlInputPartition(g.toArray): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MemCqlReaderFactory(required)
}

case class MemCqlInputPartition(rows: Array[Seq[Any]]) extends InputPartition

class MemCqlReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[MemCqlInputPartition].rows
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        toCatalyst(org.apache.spark.sql.Row.fromSeq(rows(i))).asInstanceOf[InternalRow]
      override def close(): Unit = ()
    }
  }
}

class MemCqlWriteBuilder(cluster: String, keyspaceTable: String, writeSchema: StructType,
    batchRows: Int, grouping: String, options: Map[String, String] = Map.empty)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new MemCqlBatchWrite(
      cluster, keyspaceTable, writeSchema, batchRows, grouping, options)
  }
}

/** A task-side "batch" — rows sharing one partition key, ≤ batchRows each
 * (the unlogged-batch unit the connector sends when grouping.key=partition). */
private case class MemCqlBatch(pk: Seq[Any], rows: Seq[Seq[Any]])
private case class MemCqlCommit(batches: Seq[MemCqlBatch]) extends WriterCommitMessage

class MemCqlBatchWrite(cluster: String, keyspaceTable: String, writeSchema: StructType,
    batchRows: Int, grouping: String, options: Map[String, String] = Map.empty)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // resolve partition-key ordinals against the WRITE schema on the
    // driver; the factory ships plain ints
    val st = MemCqlStore.get(cluster, keyspaceTable)
    val pkOrds = st.partitionKey.map(writeSchema.fieldIndex).toArray
    new MemCqlWriterFactory(writeSchema, pkOrds, batchRows, grouping)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val st = MemCqlStore.get(cluster, keyspaceTable)
    require(st.schema.fieldNames.sameElements(writeSchema.fieldNames),
      s"$keyspaceTable: write schema ${writeSchema.fieldNames.mkString(",")} != table schema ${st.schema.fieldNames.mkString(",")}")
    val batches = messages.toSeq.flatMap(_.asInstanceOf[MemCqlCommit].batches)
    // assert the batching INVARIANT at the seam, not just record it: a
    // batch mixing partition keys would be a multi-partition unlogged
    // batch — the anti-pattern partition grouping exists to prevent
    val pkOrds = st.partitionKey.map(writeSchema.fieldIndex)
    batches.foreach { b =>
      require(b.rows.size <= batchRows, s"batch of ${b.rows.size} rows exceeds cap $batchRows")
      if (grouping == "partition")
        require(b.rows.forall(r => pkOrds.map(r) == b.pk),
          s"batch for pk ${b.pk} contains rows of another partition key")
    }
    MemCqlStore.upsert(st, batches.flatMap(_.rows))
    st.lastWrite = Some(MemCqlStore.WriteRecord(
      numBatches = batches.size,
      maxBatchRows = if (batches.isEmpty) 0 else batches.map(_.rows.size).max,
      totalRows = batches.map(_.rows.size).sum,
      batchRowCap = batchRows,
      groupingKey = grouping,
      options = options))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class MemCqlWriterFactory(schema: StructType, pkOrds: Array[Int], batchRows: Int,
    grouping: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
      private val open = mutable.LinkedHashMap.empty[Seq[Any], mutable.ArrayBuffer[Seq[Any]]]
      private val done = mutable.ArrayBuffer.empty[MemCqlBatch]

      override def write(record: InternalRow): Unit = {
        val row = toScala(record).asInstanceOf[org.apache.spark.sql.Row].toSeq
        val pk = if (grouping == "partition") pkOrds.map(row).toSeq else Seq.empty[Any]
        val buf = open.getOrElseUpdate(pk, mutable.ArrayBuffer.empty)
        buf += row
        if (buf.size >= batchRows) { // batch full: flush
          done += MemCqlBatch(pk, buf.toSeq)
          open.remove(pk)
        }
      }
      override def commit(): WriterCommitMessage = {
        open.foreach { case (pk, buf) => done += MemCqlBatch(pk, buf.toSeq) }
        open.clear()
        MemCqlCommit(done.toSeq)
      }
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
