package graft.config

/**
 * S8 — the wrapper's env-var → properties rewrite engine, modeled as a
 * pure `Map => Map` (`/root/reference/entrypoint.sh:88-179`,
 * `set_operating_file_values`).
 *
 * Reference behavior being mirrored:
 *  - every env var `CDM_PROPERTY_FOO_BAR=v` rewrites property `foo.bar`
 *    in the properties file (prefix strip, lowercase, `_` → `.`;
 *    entrypoint.sh:132-133);
 *  - a value of the form `env:OTHER_VAR` is indirect — the real value is
 *    read from `OTHER_VAR` (entrypoint.sh:137-141);
 *  - the property must already exist in the file, possibly commented out
 *    (`#key`), matched case-insensitively because the file uses camelCase
 *    while the derived key is all-lowercase (entrypoint.sh:145, 172-174);
 *    a key not present at all is a hard error (entrypoint.sh:146-149);
 *  - a commented property is "enabled", an active one "updated"
 *    (entrypoint.sh:151-156).
 *
 * Divergence (deliberate, documented): bash's `eval` resolves a MISSING
 * indirect variable to the empty string; this engine fails fast instead,
 * matching the repo's E4 posture — a silently-empty contact point is a
 * worse failure mode than a startup error.
 */
object EnvProperties {

  val DefaultPrefix = "CDM_PROPERTY_"

  /** A properties file's state: active key→value pairs plus the set of
   * commented-out (enable-able) keys. Keys keep the file's original
   * camelCase spelling. */
  final case class PropertiesTemplate(values: Map[String, String], disabled: Set[String])

  object PropertiesTemplate {
    /** Template mirroring the stock cdm.properties shipped in the image:
     * every known key present but commented out, ready to be enabled
     * from the environment. */
    def default: PropertiesTemplate = PropertiesTemplate(Map.empty, CdmConfig.KnownKeys)
  }

  /** Derive the property key from an env-var name:
   * `CDM_PROPERTY_SPARK_CDM_FOO_BAR` → `spark.cdm.foo.bar`
   * (entrypoint.sh:132-133). */
  def confKeyOf(envVarName: String, prefix: String = DefaultPrefix): String =
    envVarName.stripPrefix(prefix).toLowerCase.replace('_', '.')

  /** An `env:NAME` value resolves to env var NAME (which must be set);
   * any other value is literal. */
  private def resolveRef(env: Map[String, String], confKey: String, rawValue: String): String =
    if (rawValue.startsWith("env:")) {
      val ref = rawValue.stripPrefix("env:")
      env.getOrElse(ref, throw new IllegalArgumentException(
        s"Property $confKey references environment variable '$ref' which is not set"))
    } else rawValue

  /**
   * Apply every `prefix`-named env var to the template, returning the
   * updated property map (original camelCase keys). Pure: the "env" is an
   * explicit Map, so tests and callers control it fully.
   */
  def applyEnv(
      env: Map[String, String],
      template: PropertiesTemplate = PropertiesTemplate.default,
      prefix: String = DefaultPrefix): Map[String, String] = {

    // camelCase-insensitive lookup over both active and commented keys
    val byLower: Map[String, String] =
      (template.values.keySet ++ template.disabled).map(k => k.toLowerCase -> k).toMap

    env.toSeq.filter(_._1.startsWith(prefix)).sortBy(_._1).foldLeft(template.values) {
      case (acc, (name, rawValue)) =>
        val confKey = confKeyOf(name, prefix)
        val fileKey = byLower.getOrElse(confKey,
          throw new IllegalArgumentException(
            s"Unable to find property $confKey in the properties template"))
        acc.updated(fileKey, resolveRef(env, confKey, rawValue))
    }
  }

  /** Model of `set_cluster_role_credentials`
   * (`/root/reference/entrypoint.sh:52-78`): a per-role credentials
   * document (`{username, password}` — the wrapper reads it from the JSON
   * file named by `CDM_CREDENTIALS_<ROLE>_JSON`) fills
   * `spark.cdm.connect.<role>.username/.password`, but an explicitly-set
   * `CDM_PROPERTY_SPARK_CDM_CONNECT_<ROLE>_<PROP>` env var wins
   * (entrypoint.sh:66-71 skips the file value when the env var is set).
   * Returns the augmented env, ready for [[applyEnv]]. */
  def applyCredentials(
      env: Map[String, String],
      originCreds: Map[String, String] = Map.empty,
      targetCreds: Map[String, String] = Map.empty): Map[String, String] = {
    val roles = Seq("ORIGIN" -> originCreds, "TARGET" -> targetCreds)
    roles.foldLeft(env) { case (acc, (role, creds)) =>
      Seq("username", "password").foldLeft(acc) { (a, prop) =>
        val envName = s"${DefaultPrefix}SPARK_CDM_CONNECT_${role}_${prop.toUpperCase}"
        creds.get(prop) match {
          case Some(v) if !a.contains(envName) => a.updated(envName, v)
          case _ => a
        }
      }
    }
  }

  /** Prefix of the wrapper's second rewrite pass — log4j configuration
   * (`/root/reference/entrypoint.sh:184-186` calls
   * `set_operating_file_values "$CDM_LOG4J_CONFIGURATION"
   * "prefix:CDM_LOGGING_" "="`). */
  val LoggingPrefix = "CDM_LOGGING_"

  /**
   * The wrapper's raw FILE-LINE rewrite (`set_operating_file_values`,
   * entrypoint.sh:88-179) with an explicit delimiter — the form its
   * log4j pass uses (`=`; entrypoint.sh:186). [[applyEnv]] models the
   * cdm.properties pass over a typed template; log4j files are opaque to
   * the engine, so this one works on lines, mirroring:
   *  - key derivation as [[confKeyOf]] (prefix strip, lowercase, `_`→`.`);
   *  - `env:OTHER` indirection (entrypoint.sh:137-141);
   *  - the line is located case-insensitively, optionally commented
   *    (`^#?key(delim|$)`); absent → hard error (entrypoint.sh:146-149);
   *  - a commented line is enabled (leading `#` dropped), an active one
   *    updated; the key keeps the FILE's spelling and the original
   *    delimiter span (spaces around `=`) is preserved (the sed `\1\2`
   *    backrefs, entrypoint.sh:174);
   *  - a bare `key` line with no delimiter+value gets the value appended
   *    after four spaces — even in `=` mode (entrypoint.sh:160-168's
   *    no-value branch sets the replacement to literal spaces).
   *
   * Divergences (deliberate, documented): a missing `env:` indirect fails
   * fast (same posture as [[applyEnv]]); and values are treated
   * atomically, where the wrapper's unquoted `${env_config_values[*]}`
   * word-splits a value containing spaces (entrypoint.sh:121) — faithful
   * modeling of that would corrupt multi-word log4j values by design.
   *
   * @param delimiter Some("=") for the log4j pass; None = whitespace mode
   *                  (the cdm.properties pass shape).
   */
  def rewriteFileLines(
      lines: Seq[String],
      env: Map[String, String],
      prefix: String = LoggingPrefix,
      delimiter: Option[String] = Some("=")): Seq[String] = {
    val delimRegex = delimiter match {
      case Some(d) => s"[ \\t]*${java.util.regex.Pattern.quote(d)}[ \\t]*"
      case None => "[ \\t]+"
    }
    env.toSeq.filter(_._1.startsWith(prefix)).sortBy(_._1).foldLeft(lines) {
      case (acc, (name, rawValue)) =>
        val confKey = confKeyOf(name, prefix)
        val value = resolveRef(env, confKey, rawValue)
        val qKey = java.util.regex.Pattern.quote(confKey)
        val valued = s"(?i)^#?($qKey)($delimRegex).*$$".r
        val bare = s"(?i)^#?($qKey)$$".r
        // sed -i rewrites EVERY matching line of the file (entrypoint.sh:174
        // has no line address) — log4j's last-definition-wins means
        // touching only the first (possibly commented) occurrence would
        // leave a later active line overriding the new value. Match
        // detection is a separate strict pass (a side-effecting flag
        // inside map would stay unset on a lazy Seq and raise spuriously)
        val matched = acc.exists {
          case valued(_, _) => true
          case bare(_) => true
          case _ => false
        }
        if (!matched) throw new IllegalArgumentException(
          s"Unable to find property $confKey in the file")
        acc.map {
          case valued(fileKey, delim) => s"$fileKey$delim$value"
          case bare(fileKey) => s"$fileKey    $value"
          case other => other
        }
    }
  }

  /** End-to-end: env vars → rewritten properties → typed CdmConfig. */
  def configFromEnv(
      env: Map[String, String],
      template: PropertiesTemplate = PropertiesTemplate.default): CdmConfig =
    CdmConfig.fromMap(applyEnv(env, template))
}
