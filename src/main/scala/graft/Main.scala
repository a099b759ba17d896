package graft

import org.apache.spark.sql.SparkSession

import graft.config.{CdmConfig, EnvProperties}
import graft.jobs.JobDispatch

/**
 * spark-submit entry point — the launch surface a reference user already
 * has (`/root/reference/entrypoint.sh:274-283` spark-submits a job class
 * with `--properties-file cdm.properties`; `spark-submit-cdm:10-26`
 * re-dispatches by job name):
 *
 *   spark-submit --class graft.Main graft.jar <migrate|validate|guardrail> [cdm.properties]
 *
 * Config resolution order mirrors the wrapper:
 *  1. explicit properties-file argument (`CdmConfig.fromPropertiesFile`);
 *  2. `CDM_PROPERTY_*` environment variables through the wrapper's
 *     rewrite engine (`EnvProperties` — entrypoint.sh:88-179);
 *  3. the SparkConf itself (spark-submit `--properties-file` /
 *     `--conf spark.cdm.*=` already landed the keys there).
 * The job name may also come from `CDM_JOB_NAME`, exactly like the
 * wrapper's dispatch.
 */
object Main {

  def main(args: Array[String]): Unit = {
    // wrapper execution-mode gate (entrypoint.sh:228-259; Docker default
    // auto): a bad mode is a hard error BEFORE anything runs; manual mode
    // parks — prints the wrapper's hint and dispatches nothing (the user
    // drives jobs through jobs.ParkedSession, the spark-submit-cdm loop)
    val mode = sys.env.get("CDM_EXECUTION_MODE")
      .map(jobs.ExecutionMode.resolve).getOrElse(jobs.ExecutionMode.Auto)
    if (mode == jobs.ExecutionMode.Manual) {
      println("[graft] " + jobs.ExecutionMode.parkMessage(sys.env.get("CDM_JOB_NAME")))
      return
    }
    val jobName = args.headOption.orElse(sys.env.get("CDM_JOB_NAME")).getOrElse(
      throw new IllegalArgumentException(
        "usage: graft.Main <migrate|validate|guardrail> [cdm.properties] (or set CDM_JOB_NAME)"))
    JobDispatch.resolve(jobName) // fail fast on a bad name, before any Spark work
    // wrapper launch order (entrypoint.sh:225-270): certificates import
    // BEFORE the job starts, driven by CMD_SSL_STORE_SETTINGS_JSON; absent
    // env is a no-op, a bad settings path is a pre-Spark hard error
    graft.config.SslCertImport.importAll(sys.env.get("CMD_SSL_STORE_SETTINGS_JSON"))
      .foreach(a => println(s"[graft] imported SSL certificate alias $a"))
    // pinned-UTC is a library-wide contract (SURVEY §7.5.2): event-time
    // normalization and writetime arithmetic assume it, so the production
    // entry pins it like every harness session does
    val spark = SparkSession.builder().appName(s"graft-$jobName")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val cfg = resolveConfig(spark, args.lift(1), sys.env)
    val report = JobDispatch.run(spark, jobName, cfg)
    // the report frame's size depends on the job: migrate returns a read
    // of the whole target (count() is the "rows written" figure upstream
    // prints), validate the diff report with one classified row per
    // origin row (VALID rows included), guardrail only the rows over the
    // column-size limit
    println(s"[graft] $jobName complete: ${report.count()} report rows")
  }

  /** Wrapper-parity config resolution; separated for direct testing. */
  def resolveConfig(spark: SparkSession, propertiesFile: Option[String],
      env: Map[String, String]): CdmConfig =
    propertiesFile match {
      case Some(path) => CdmConfig.fromPropertiesFile(path)
      case None if env.keys.exists(_.startsWith(EnvProperties.DefaultPrefix)) =>
        EnvProperties.configFromEnv(env)
      case None => CdmConfig.from(spark)
    }
}
