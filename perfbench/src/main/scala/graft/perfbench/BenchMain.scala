package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Probe

import graft.{Main, SparkEntry}
import graft.jobs.{JobDispatch, Migrate}

/**
 * JVM side of the benchmark: runs one workload in a closed loop (one
 * client, ops back to back) and writes every op's raw record as JSON for
 * `perfbench/run.py`, which turns them into metrics.
 *
 *   BenchMain --workload cdm|operators --work DIR
 *             --min-ops N --trace 0|1 --cores K --out FILE
 *             [--queries a,b,c --fixture DIR]
 *   BenchMain --list-registry FILE
 *
 * The loop runs a fixed number of ops: the fewest whole passes over the
 * workload's op kinds (the operator sample is one pass) that make at
 * least `min-ops` ops. The count never depends on how fast ops run, so
 * two commits are compared at the same percentiles.
 * Every check runs outside the timed region. In a traced run, ops
 * alternate between traced and untraced, so the tracing overhead is
 * measured in the same JVM and the same minutes.
 */
object BenchMain {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("list-registry") match {
      case Some(out) => Files.writeString(Paths.get(out), Json.write(Registry.listing))
      case None => run(a)
    }
  }

  private def run(a: Map[String, String]): Unit = {
    val workDir = Paths.get(a("work")).toAbsolutePath
    val minOps = a("min-ops").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val wl: Workload = a("workload") match {
      case "cdm" => new CdmWorkload(workDir)
      case "operators" => new OperatorsWorkload(workDir, Paths.get(a("fixture")).toAbsolutePath,
        a("queries").split(",").toIndexedSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = wl.session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val probe = new Probe(spark.sparkContext, detailed = trace)
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(spark)

    val setup = wl.setUp(spark, tracer)
    probe.drainRecords()

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val n = wl.cycle
    // a traced run makes at least two passes, so every kind runs both
    // traced and untraced
    val total = n * math.max(if (trace) 2 else 1, (minOps + n - 1) / n)
    val firstOpMs = System.currentTimeMillis()
    for (i <- 0 until total) {
      val traced = trace && (i + (if (n % 2 == 0) i / n else 0)) % 2 == 1
      tracer.begin(i, traced)
      // settle the previous op's checks before reading the counters
      probe.drainRecords()
      val cpu0 = probe.cpuNs.get
      val t0 = System.nanoTime()
      val out = Try(tracer.span("op", wl.opName(i))(wl.op(spark, i, tracer)))
      val t1 = System.nanoTime()
      // the op's task CPU is read before the checks and the traced
      // extras run, so their tasks never count in it
      val (jobs, execs) = probe.drainRecords()
      val cpuS = (probe.cpuNs.get - cpu0) / 1e9
      val aux = if (traced) try wl.traceAux(spark, i, tracer) finally probe.drainRecords()
        else Map.empty[String, Double]
      val c0 = System.nanoTime()
      val error = out match {
        case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        case Success(v) => Try(wl.check(spark, i, v)).fold(e => Some(s"check threw: $e"), identity)
      }
      val checkS = (System.nanoTime() - c0) / 1e9
      error.foreach(e => System.err.println(s"[perfbench] op $i (${wl.opName(i)}) failed: $e"))
      ops += Map(
        "i" -> i, "name" -> wl.opName(i), "wall_s" -> (t1 - t0) / 1e9,
        "ok" -> error.isEmpty, "error" -> error.orNull, "traced" -> traced,
        "task_cpu_s" -> cpuS, "check_s" -> checkS,
        "aux" -> aux,
        "spans" -> (if (traced) tracer.spans else Nil),
        "jobs" -> (if (traced) jobs.map(Json.job) else Nil),
        "execs" -> (if (traced) execs.map(Json.exec) else Nil))
    }
    val finalCheck = Try(wl.finalCheck(spark)).fold(e => Some(s"final check threw: $e"), identity)
    finalCheck.foreach(e => System.err.println(s"[perfbench] final check failed: $e"))
    val peakRssMb = Rss.peakMb()
    val notes = Try(wl.notes(spark)).fold(e => Map("notes_error" -> e.toString), identity)
    val result = Map(
      "workload" -> a("workload"), "cores" -> cores, "traced" -> trace,
      "session_ready_epoch_ms" -> sessionReadyMs, "first_op_epoch_ms" -> firstOpMs,
      "peak_rss_mb" -> peakRssMb, "final_check_error" -> finalCheck.orNull,
      "notes" -> notes, "setup" -> setup, "ops" -> ops.toList)
    Files.writeString(Paths.get(a("out")), Json.write(result))
    spark.stop()
  }
}

/** Benchmark spans: named, nested call boundaries on the driver thread.
 * The innermost open span is published as a local property, so every job
 * the span submits (and every job an AQE thread submits on its behalf)
 * carries the span's id. */
final class Tracer(spark: SparkSession) {
  private var op = 0
  private var on = false
  private var next = 0
  private val stack = mutable.Stack.empty[String]
  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]

  def begin(opIndex: Int, traced: Boolean): Unit = {
    op = opIndex; on = traced; next = 0; stack.clear(); done.clear()
  }

  def spans: List[Map[String, Any]] = done.toList

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = s"$op.$next"
      next += 1
      val parent = stack.headOption.orNull
      stack.push(id)
      val sc = spark.sparkContext
      sc.setLocalProperty(Probe.SpanProperty, id)
      val t0 = Clock.epochMs()
      try body
      finally {
        val t1 = Clock.epochMs()
        stack.pop()
        sc.setLocalProperty(Probe.SpanProperty, stack.headOption.orNull)
        done += Map("id" -> id, "parent" -> parent, "layer" -> layer, "name" -> name,
          "t0_ms" -> t0, "t1_ms" -> t1)
      }
    }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
 * the same base as the listener's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def epochMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Rss {
  /** The JVM's peak resident set (VmHWM), in MB; -1 where /proc is absent. */
  def peakMb(): Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).get
  }.getOrElse(-1.0)
}

/** One workload: set-up, the op, and the checks, which run untimed. */
trait Workload {
  def session(cores: Int): SparkSession
  def setUp(spark: SparkSession, tracer: Tracer): Map[String, Any]
  /** Ops cycle through this many distinct op kinds. */
  def cycle: Int = 1
  def opName(i: Int): String
  def op(spark: SparkSession, i: Int, tracer: Tracer): Any
  /** None when the op's output is right, else what is wrong. */
  def check(spark: SparkSession, i: Int, out: Any): Option[String]
  def finalCheck(spark: SparkSession): Option[String] = None
  /** Untimed observations after the last check; they never fail a run. */
  def notes(spark: SparkSession): Map[String, Any] = Map.empty
  /** Extra per-layer timings taken only in traced ops, outside the op wall. */
  def traceAux(spark: SparkSession, i: Int, tracer: Tracer): Map[String, Double] = Map.empty
}

/** The CDM runbook on the production job surface. One op is a guardrail
 * check and a migrate of the origin, then a validate with autocorrect of
 * the late origin (the origin after writes that landed during the
 * migration) against the target just migrated. Each job is
 * `Main.resolveConfig` on a generated config, `JobDispatch.run`, and the
 * report count `Main` prints. The next op's migrate overwrites the
 * autocorrected target, so every op finds the same differences. */
final class CdmWorkload(work: Path) extends Workload {
  private val migrateProps = work.resolve("migrate.properties").toString
  private val validateProps = work.resolve("validate.properties").toString
  private val meta: Map[String, String] = Files.readAllLines(work.resolve("meta.properties"))
    .asScala.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
  private val table = meta("table")
  private val targetTable = work.resolve("target").resolve(s"$table.parquet")
  private val expectedViolations = meta("guardrail_violations").toLong
  private val injected = Map("MISSING" -> meta("injected_missing").toLong,
    "MISMATCH" -> meta("injected_mismatch").toLong)
  // the migrated row count, and the content hash of the target once
  // validate has corrected it to the late origin
  private var expectedMigrated = 0L
  private var expectedFinal: (BigDecimal, Long) = _

  def session(cores: Int): SparkSession =
    // Main's own builder; the launcher supplies spark.master as
    // spark-submit would
    SparkSession.builder().appName("graft-cdm")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  def opName(i: Int): String = "cdm"

  private def job(spark: SparkSession, tracer: Tracer, props: String, name: String): Long = {
    val cfg = tracer.span("config", "resolve")(Main.resolveConfig(spark, Some(props), Map.empty))
    tracer.span("jobs", name)(JobDispatch.run(spark, name, cfg).count())
  }

  def setUp(spark: SparkSession, tracer: Tracer): Map[String, Any] = {
    def expected(dir: String): DataFrame = {
      spark.read.parquet(work.resolve(dir).resolve(s"$table.parquet").toString)
        .createOrReplaceTempView("origin")
      spark.sql(meta("expected_sql"))
    }
    expectedMigrated = expected("origin").count()
    expectedFinal = Check.hash(expected("late"))
    (0 until CdmWorkload.WarmupOps).foreach(i => Try(op(spark, i, tracer)))
    Map("warmup_ops" -> CdmWorkload.WarmupOps, "injected_missing" -> injected("MISSING"),
      "injected_mismatch" -> injected("MISMATCH"))
  }

  def op(spark: SparkSession, i: Int, tracer: Tracer): Any =
    (job(spark, tracer, migrateProps, "guardrail"), job(spark, tracer, migrateProps, "migrate"),
      job(spark, tracer, validateProps, "validate"))

  private def classCounts(spark: SparkSession): Map[String, Long] =
    spark.read.parquet(work.resolve("target").resolve(s"${table}_diff_report.parquet").toString)
      .groupBy("diff_class").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Every op's counts are checked: guardrail violations, rows migrated,
   * validate's classes. The corrected target's content hash, a Spark job
   * of its own, after every [[CdmWorkload.HashEvery]]th op and after the
   * last. */
  def check(spark: SparkSession, i: Int, out: Any): Option[String] = {
    val (violations, migrated, _) = out.asInstanceOf[(Long, Long, Long)]
    val classes = classCounts(spark)
    if (violations != expectedViolations)
      Some(s"guardrail found $violations violations, generator seeded $expectedViolations")
    else if (migrated != expectedMigrated) Some(s"migrate wrote $migrated rows, expected $expectedMigrated")
    else if (classes.removed("VALID") != injected.filter(_._2 > 0))
      Some(s"validate classes $classes, injected $injected")
    else if (i % CdmWorkload.HashEvery == 0) checkHash(spark)
    else None
  }

  /** The corrected target, and a second validate that must find nothing. */
  override def finalCheck(spark: SparkSession): Option[String] = checkHash(spark).orElse {
    JobDispatch.run(spark, "validate", Main.resolveConfig(spark, Some(validateProps), Map.empty)).count()
    val got = classCounts(spark)
    if (got.keySet != Set("VALID")) Some(s"re-validate after autocorrect: $got") else None
  }

  private def checkHash(spark: SparkSession): Option[String] = {
    val got = Check.hash(spark.read.parquet(targetTable.toString))
    if (got != expectedFinal) Some(s"target hash $got != expected $expectedFinal") else None
  }

  override def traceAux(spark: SparkSession, i: Int, tracer: Tracer): Map[String, Double] = {
    val cfg = Main.resolveConfig(spark, Some(migrateProps), Map.empty)
    val t0 = System.nanoTime()
    Migrate.plan(spark, cfg)
    Map("jobs.plan_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** The timed table has no map column, because validate throws on one
   * (perfbench/README.md, "Known defect"). This probe runs migrate and
   * validate on a small table that keeps its `map<text,int>` and says
   * whether validate still throws. */
  override def notes(spark: SparkSession): Map[String, Any] = {
    val cfg = Main.resolveConfig(spark, Some(work.resolve("mapprobe").resolve("validate.properties").toString),
      Map.empty)
    JobDispatch.run(spark, "migrate", cfg).count()
    val outcome = Try(JobDispatch.run(spark, "validate", cfg).count()) match {
      case Success(_) => "passes"
      case Failure(e) => s"throws ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
    }
    Map("map_column_validate" -> outcome)
  }
}

object CdmWorkload {
  val HashEvery = 4
  val WarmupOps = 3
}

final class OperatorsWorkload(work: Path, fixture: Path, sample: IndexedSeq[String]) extends Workload {
  private val dir = fixture.toString
  private val dumpDir = work.resolve("dump")

  def session(cores: Int): SparkSession =
    // graft.Bench's session, so the registry runs as the bench runs it
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  override def cycle: Int = sample.size
  def opName(i: Int): String = sample(i % sample.size)

  /** Prepares, then one pass over the sample that dumps each result for
   * the oracle comparison, then an untimed pass of ops, the JIT and
   * codegen warm-up. Both passes run one query per core at a time, to
   * shorten set-up. */
  def setUp(spark: SparkSession, tracer: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    val prepares = SparkEntry.prepares
    sample.distinct.foreach(n => prepares.get(n).foreach(_(spark, dir)))
    val t1 = System.nanoTime()
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    def eachQuery(f: Int => Unit): Unit =
      sample.indices.map(i => pool.submit(new Runnable { def run(): Unit = f(i) })).foreach(_.get())
    val t2 = try {
      eachQuery { i =>
        val n = sample(i)
        try SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(dumpDir.resolve(n).toString)
        catch { case e: Throwable => errors.put(n, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      }
      val t = System.nanoTime()
      eachQuery(i => Try(op(spark, i, tracer)))
      t
    } finally pool.shutdown()
    Map("dump_errors" -> errors.asScala.toMap, "sample" -> sample.toList,
      "prepare_s" -> (t1 - t0) / 1e9, "dump_s" -> (t2 - t1) / 1e9, "warmup_s" -> (System.nanoTime() - t2) / 1e9)
  }

  def op(spark: SparkSession, i: Int, tracer: Tracer): Any = {
    val name = opName(i)
    val df = tracer.span("queries", "build")(SparkEntry.queries(name)(spark, dir))
    tracer.span("queries", "action")(df.write.mode("overwrite").format("noop").save())
  }

  /** The result was checked once, from the set-up dump, by run.py. */
  def check(spark: SparkSession, i: Int, out: Any): Option[String] = None
}

object Check {
  /** Order-independent content hash: row count plus the exact sum of a
   * 64-bit hash per row, over columns in name order. Maps hash through
   * their sorted entries, since map hashing is not defined. */
  def hash(df: DataFrame): (BigDecimal, Long) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")
    val r = df.agg(coalesce(sum(h), lit(BigDecimal(0)).cast("decimal(38,0)")), count(lit(1))).head()
    (BigDecimal(r.getDecimal(0)), r.getLong(1))
  }
}

/** The query registry by family (one `*Queries` object each). */
object Registry {
  import graft.queries._
  def families: Seq[(String, Seq[Q])] = Seq(
    "CoreQueries" -> CoreQueries.all, "TransformQueries" -> TransformQueries.all,
    "DiffQueries" -> DiffQueries.all, "WindowQueries" -> WindowQueries.all,
    "TemporalQueries" -> TemporalQueries.all, "TextQueries" -> TextQueries.all,
    "CurationQueries" -> CurationQueries.all, "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all, "AnalyticsQueries" -> AnalyticsQueries.all,
    "PipelineQueries" -> PipelineQueries.all, "PatchQueries" -> PatchQueries.all)

  def listing: Map[String, Any] = {
    val registered = SparkEntry.registry.map(_.name).toSet
    val fams = families.map { case (f, qs) => f -> qs.map(_.name) }
    val listed = fams.flatMap(_._2).toSet
    require(listed == registered, s"family listing differs from SparkEntry.registry: " +
      s"${(listed diff registered) ++ (registered diff listed)}")
    Map("families" -> fams.toMap, "oracle" -> SparkEntry.oracleSql,
      "prepares" -> SparkEntry.prepares.keySet.toList.sorted)
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case b: BigDecimal => b.bigDecimal
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def job(j: Probe#JobRec): Map[String, Any] = Map(
    "id" -> j.id, "t0_ms" -> j.startMs, "t1_ms" -> j.endMs, "details" -> j.details,
    "exec_id" -> j.execId, "span" -> j.span, "stages" -> j.stages, "tasks" -> j.tasks,
    "cpu_s" -> j.cpuNs / 1e9, "run_s" -> j.runMs / 1e3, "wait_s" -> j.waitMs / 1e3,
    "gc_s" -> j.gcMs / 1e3, "shuffle_read_bytes" -> j.shuffleRead,
    "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
    "peak_exec_mem_bytes" -> j.peakMem, "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
    "output_records" -> j.outputRecords)

  def exec(e: Probe#ExecRec): Map[String, Any] = Map(
    "id" -> e.id, "details" -> e.details, "sql_ms" -> e.sqlMs.toMap, "scans" -> e.scans,
    "write_paths" -> e.writePaths.toList)
}
