package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.CdmConfig

/**
 * The wrapper's execution-mode gate and manual-mode parking loop,
 * modeled exactly (`/root/reference/entrypoint.sh:228-259,272-289`,
 * `/root/reference/spark-submit-cdm:1-39`):
 *
 *  - `CDM_EXECUTION_MODE` accepts exactly `auto` or `manual`
 *    (case-SENSITIVE shell `=` compares; the Docker default is `auto`,
 *    Dockerfile:86) — anything else is a hard error with the reference's
 *    message;
 *  - `auto` validates the job name at CONFIG time (before any Spark
 *    work) and dispatches once;
 *  - `manual` parks the container (`exec tail -f /dev/null`,
 *    entrypoint.sh:288) after printing a hint message, and the user
 *    launches jobs by exec'ing `spark-submit-cdm [job]` any number of
 *    times — each launch re-resolves the job name (explicit argument
 *    wins over `CDM_JOB_NAME`, spark-submit-cdm:3-8) and re-reads the
 *    properties file, so config edits between launches take effect.
 *
 * The library face of "parked" is [[ParkedSession]]: one long-lived
 * SparkSession accepting any number of sequential job submissions, each
 * with fresh config — the semantics that matter from the loop, minus the
 * container plumbing (SURVEY §2.2 scopes out the literal `tail -f`).
 */
object ExecutionMode {

  sealed trait Mode
  case object Auto extends Mode
  case object Manual extends Mode

  /** entrypoint.sh:228,246,259 — exact-match mode strings, hard error
   * otherwise with the reference's message shape. */
  def resolve(mode: String): Mode = mode match {
    case "auto" => Auto
    case "manual" => Manual
    case other => throw new IllegalArgumentException(
      s"Unrecognised execution mode '$other'. Please specify either 'auto' or 'manual'.")
  }

  /** The manual-mode hint line (entrypoint.sh:246-257): with a job name
   * configured the message offers both the bare re-launch and the
   * override form; without one, only the explicit form. */
  def parkMessage(jobName: Option[String]): String = jobName.filter(_.nonEmpty) match {
    case Some(j) =>
      s"Run 'spark-submit-cdm' to launch the '$j' job, or run 'spark-submit-cdm <job>' to launch a different CDM job."
    case None =>
      "Run 'spark-submit-cdm <job>' to launch a CDM job."
  }
}

/**
 * A parked manual-mode session: the re-dispatch loop a user drives by
 * exec'ing `spark-submit-cdm` inside the waiting container. Every
 * `submit` mirrors one launch:
 *
 *  1. job name = explicit argument, else `CDM_JOB_NAME`
 *     (spark-submit-cdm:3-8); missing both → the script's unrecognised
 *     '' rejection;
 *  2. unknown names rejected with the script's exact message
 *     (spark-submit-cdm:20-24, via [[JobDispatch.resolve]]);
 *  3. config is re-read per submit — a properties-file edit between two
 *     submits changes the second job, exactly as repeated spark-submit
 *     `--properties-file` launches would.
 */
final class ParkedSession(spark: SparkSession, env: Map[String, String],
    propertiesFile: Option[String] = None) {

  /** One `spark-submit-cdm [job]` launch; returns the job's report frame. */
  def submit(jobArg: Option[String] = None): DataFrame = {
    val name = jobArg.orElse(env.get("CDM_JOB_NAME").filter(_.nonEmpty)).getOrElse("")
    val canonical = JobDispatch.resolve(name) // fail fast, before any config read
    val cfg: CdmConfig = graft.Main.resolveConfig(spark, propertiesFile, env)
    JobDispatch.run(spark, canonical, cfg)
  }
}
