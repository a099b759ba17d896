package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.config.{ConstantColumnsConfig, ExplodeMapConfig, ExtractJsonConfig, TransformConfig}

/**
 * T1–T8, T10/T11 — the reference's row-transform surface
 * (`spark.cdm.transform.*` + `spark.cdm.feature.*`; SURVEY.md §2.4).
 * Every transform is a pure `DataFrame => DataFrame` built from built-in
 * Catalyst expressions (zero UDFs — everything stays inside whole-stage
 * codegen).
 */
object Transforms {

  /** T1 — constant columns (`spark.cdm.feature.constantColumns.*`):
   * append fixed-valued columns (e.g. a tenant id) to every row.
   * `[upstream] feature/ConstantColumns.java`. Catalyst constant-folds the
   * literals, so the cost is zero per row. */
  def constantColumns(df: DataFrame, cfg: ConstantColumnsConfig): DataFrame =
    cfg.names.lazyZip(cfg.types).lazyZip(cfg.values).foldLeft(df) {
      case (d, (name, tpe, value)) =>
        d.withColumn(name, lit(value).cast(DataType.fromDDL(tpe)))
    }

  /** T2 — explode map (`spark.cdm.feature.explodeMap.*`): one origin row
   * with a `map<K,V>` column becomes N target rows; key and value become
   * scalar columns that join the primary key. The reference's only
   * cardinality-changing operator (`[upstream] feature/ExplodeMap.java`);
   * in Spark it is the built-in `explode` Generate node. */
  def explodeMap(df: DataFrame, cfg: ExplodeMapConfig): DataFrame = {
    // fail fast on name collisions BEFORE building the frame: key == value
    // or either colliding with a surviving column would emit duplicate
    // column names, and the next by-name reference dies with an ambiguous-
    // column error deep in the job instead of here (E4 posture)
    require(cfg.keyName != cfg.valueName,
      s"explodeMap key and value columns must differ, both are '${cfg.keyName}'")
    SqlTypes.requireFreeColumns(df.drop(cfg.originName), Seq(cfg.keyName, cfg.valueName))
    val others = df.columns.filterNot(_ == cfg.originName).map(col)
    // explode_outer + key-not-null filter ≡ explode (map keys are never
    // null; only the empty/null-map row gets a null key, and explode
    // drops it) — but WITHOUT the `size(m) > 0` guard Catalyst infers for
    // non-outer Generate. That guard lands BELOW the map-building
    // projection and re-computes the map expression (json extraction
    // included) a second time for every input row — measured 2x the
    // per-row transform cost on the events fixture.
    df.select(others.toIndexedSeq :+ explode_outer(col(cfg.originName)).as(Seq(cfg.keyName, cfg.valueName)): _*)
      .filter(col(cfg.keyName).isNotNull)
  }

  /** T3 — extract JSON (`spark.cdm.feature.extractJson.*`): pull one
   * property out of a JSON-string column into its own column.
   * propertyMapping is `jsonField` or `jsonField:targetColumn`.
   * `[upstream] feature/ExtractJson.java`. */
  def extractJson(df: DataFrame, cfg: ExtractJsonConfig): DataFrame = {
    val (field, target) = cfg.propertyMapping.split(":") match {
      case Array(f, t) => (f.trim, t.trim)
      case Array(f)    => (f.trim, f.trim)
      case _ => throw new IllegalArgumentException(s"bad propertyMapping '${cfg.propertyMapping}'")
    }
    require(cfg.overwrite || !df.columns.contains(target),
      s"extractJson target column '$target' exists and overwrite=false")
    df.withColumn(target, get_json_object(col(cfg.originColumn), s"$$.$field"))
  }

  /** T4 — timestamp↔string codecs (`spark.cdm.transform.codecs` =
   * TIMESTAMP_STRING_FORMAT / TIMESTAMP_STRING_MILLIS;
   * `[upstream]` codec classes under `cql/codec`). */
  def timestampToString(c: Column, fmt: String): Column = date_format(c, fmt)
  def stringToTimestamp(c: Column, fmt: String): Column = to_timestamp(c, fmt)
  def millisStringToTimestamp(c: Column): Column = timestamp_millis(c.cast("long"))
  def timestampToMillisString(c: Column): Column = unix_millis(c).cast("string")

  /** T5 — numeric↔string codecs (INT_STRING / BIGINT_STRING /
   * DECIMAL_STRING). String→number is the deterministic direction;
   * number→string of floating types is engine-formatting sensitive, so
   * DOUBLE_STRING is not wired (see [[applyCodecs]]). */
  def stringToLong(c: Column): Column = c.cast("long")
  def longToString(c: Column): Column = c.cast("string")

  /** T6 — map null-value scrub (`spark.cdm.transform.map.remove.null.value`):
   * drop entries whose value is null before write (target DBs reject nulls
   * in collections). `map_filter` stays codegen-friendly. */
  def mapRemoveNullValues(df: DataFrame, mapCol: String): DataFrame =
    df.withColumn(mapCol, map_filter(col(mapCol), (_, v) => v.isNotNull))

  /** T7 — missing-key-timestamp repair
   * (`spark.cdm.transform.missing.key.ts.replace.value`): replace
   * null/epoch-0 timestamps appearing as map keys.
   *
   * Collision-safe: a naive per-key rewrite would produce DUPLICATE map
   * keys whenever the map already contains the replacement instant (or
   * holds two broken keys), and `map_from_arrays` then kills the job at
   * runtime under the default mapKeyDedupPolicy=EXCEPTION. Semantics
   * here: all broken entries collapse to ONE entry at the replacement
   * key — unless a real entry already occupies it, in which case the
   * real entry wins and the broken ones are dropped (first broken entry
   * in map order supplies the value; map entry order is the stored
   * order, deterministic per row). */
  def repairMissingMapKeyTs(df: DataFrame, mapCol: String, replacementMicros: Long): DataFrame = {
    val repl = timestamp_micros(lit(replacementMicros))
    def broken(k: Column) = k.isNull || unix_micros(k) === 0L
    df.withColumn(mapCol, {
      val m = col(mapCol)
      val entries = map_entries(m)
      val brokenEntries = filter(entries, e => broken(e.getField("key")))
      val nonBroken = filter(entries, e => !broken(e.getField("key")))
      val hasRealRepl = array_contains(map_keys(m), repl)
      val rebuilt = when(hasRealRepl, nonBroken).otherwise(
        concat(nonBroken, array(struct(
          repl.as("key"),
          element_at(brokenEntries, 1).getField("value").as("value")))))
      when(size(brokenEntries) === 0, m).otherwise(map_from_entries(rebuilt))
    })
  }

  /** T8 — custom writetime/TTL override (`spark.cdm.transform.custom.*`):
   * force a constant writetime (optionally incremented per row to break
   * ties) and/or TTL on every written row.
   * `[upstream] feature/WritetimeTTL.java`.
   *
   * The increment is derived from the primary key's ring-token stand-in,
   * NOT `monotonically_increasing_id()` — the latter depends on
   * partitioning, so assigned writetimes would change across reruns,
   * violating the engine's determinism contract (stable reruns / oracle
   * comparison). A PK-derived increment is rerun- and partitioning-stable;
   * distinctness is hash-grade rather than guaranteed, which satisfies the
   * upstream intent (spread writetimes to break ties). */
  def customWritetime(df: DataFrame, wtMicros: Long, incrementBy: Long,
      pkCols: Seq[String] = Nil): DataFrame =
    if (incrementBy == 0L) df.withColumn(WritetimeCol, lit(wtMicros))
    else {
      require(pkCols.nonEmpty,
        "custom.writetime.incrementBy needs a primary key for a deterministic per-row increment")
      // integral PKs use the oracle-mirrorable arithmetic token; any other
      // PK shape (text keys, the explode-map key column, mixed composites)
      // takes xxhash64 — still deterministic across reruns/partitionings,
      // where a cast("long") would throw under ANSI or null the writetime
      import org.apache.spark.sql.types._
      val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
      val allIntegral = pkCols.forall(c =>
        df.schema.fields.find(_.name == c).exists(f => integral.contains(f.dataType)))
      val token =
        if (allIntegral) graft.io.TableIO.tokenOfCompound(pkCols.map(col))
        else pmod(xxhash64(pkCols.map(col): _*), lit(graft.io.TableIO.TokenModulus))
      df.withColumn(WritetimeCol, lit(wtMicros) + token * lit(incrementBy))
    }

  /** The columns [[customWritetime]] and [[customTtl]] write. */
  val WritetimeCol = "writetime"
  val TtlCol = "ttl"

  def customTtl(df: DataFrame, ttlSeconds: Long): DataFrame =
    df.withColumn(TtlCol, lit(ttlSeconds))

  /** T4/T5 — apply configured codecs (`spark.cdm.transform.codecs`) at the
   * write boundary: convert every non-PK column whose origin type matches
   * the codec's source side. Unknown codec names fail fast (E4). The
   * deterministic directions are wired; DOUBLE_STRING is excluded because
   * float formatting is engine-specific — configuring it throws rather
   * than silently writing engine-dependent strings. */
  /** Engine-derived metadata columns (writetime/TTL companions and the
   * effective row values) — codecs convert DATA columns; stringifying a
   * LongType writetime would make later writetime-window filters and
   * last-writer-wins merges compare lexicographically. */
  private def isDerivedMeta(name: String): Boolean =
    name == WritetimeCol || name == TtlCol ||
      name == WritetimeTtl.RowWritetimeCol || name == WritetimeTtl.RowTtlCol ||
      name.startsWith("wt_") || name.startsWith("ttl_")

  def applyCodecs(df: DataFrame, t: TransformConfig, pkCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    def convert(d: DataFrame, pred: DataType => Boolean, f: Column => Column): DataFrame =
      d.schema.fields
        .filter(fl => pred(fl.dataType) && !pkCols.contains(fl.name) && !isDerivedMeta(fl.name))
        .foldLeft(d)((dd, fl) => dd.withColumn(fl.name, f(col(fl.name))))
    t.codecs.foldLeft(df) { (d, codec) =>
      codec.toUpperCase match {
        // Parquet timestamps without isAdjustedToUTC (the fixture's
        // timestamp[ms] columns) surface as TimestampNTZType in Spark 4
        // (inferTimestampNTZ default on) — the codec must cover both
        // flavors or it silently skips the column (round-2 red row).
        // Session TZ is pinned UTC, so NTZ→TZ cast is the identity.
        case "TIMESTAMP_STRING_FORMAT" =>
          val fmt = t.timestampStringFormat.getOrElse(throw new IllegalArgumentException(
            "codec TIMESTAMP_STRING_FORMAT requires spark.cdm.transform.codecs.timestamp.string.format"))
          convert(d, dt => dt == TimestampType || dt == TimestampNTZType, timestampToString(_, fmt))
        case "TIMESTAMP_STRING_MILLIS" =>
          convert(d, dt => dt == TimestampType || dt == TimestampNTZType,
            c => timestampToMillisString(c.cast("timestamp")))
        case "INT_STRING"    => convert(d, _ == IntegerType, longToString)
        case "BIGINT_STRING" => convert(d, _ == LongType, longToString)
        case "DECIMAL_STRING" => convert(d, _.isInstanceOf[DecimalType], _.cast("string"))
        case other => throw new IllegalArgumentException(
          s"unsupported codec '$other' (supported: TIMESTAMP_STRING_FORMAT, TIMESTAMP_STRING_MILLIS, INT_STRING, BIGINT_STRING, DECIMAL_STRING)")
      }
    }
  }

  /** Apply the configured subset in reference pipeline order
   * (WritetimeTTL → filters happen upstream; then constants → explode →
   * extract-json → map scrubs → codecs → custom writetime/TTL;
   * SURVEY.md §3.1 step 10). Every parsed TransformConfig knob is either
   * applied here or fails fast — nothing configured is silently ignored
   * (matching the E4 fail-fast posture and upstream, where e.g.
   * `map.remove.null.value` acts on map columns during migration). */
  def applyAll(df: DataFrame, t: TransformConfig, pkCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types.{MapType, TimestampNTZType, TimestampType}
    var d = df
    t.constantColumns.foreach(c => d = constantColumns(d, c))
    t.explodeMap.foreach(c => d = explodeMap(d, c))
    t.extractJson.foreach(c => d = extractJson(d, c))
    if (t.mapRemoveNullValue)
      d.schema.fields.collect { case f if f.dataType.isInstanceOf[MapType] => f.name }
        .foreach(c => d = mapRemoveNullValues(d, c))
    t.missingKeyTsReplace.foreach { micros =>
      val tsKeyed = d.schema.fields.collect {
        // BOTH timestamp flavors: parquet without isAdjustedToUTC surfaces
        // as TimestampNTZType in Spark 4 — matching only TimestampType
        // would silently skip the repair (the same round-2 red row the
        // codec block above was fixed for)
        case f if (f.dataType match {
          case MapType(TimestampType, _, _) | MapType(TimestampNTZType, _, _) => true
          case _ => false
        }) => f.name
      }
      tsKeyed.foreach(c => d = repairMissingMapKeyTs(d, c, micros))
    }
    d = applyCodecs(d, t, pkCols)
    t.customWritetime.foreach(wt => d = customWritetime(d, wt, t.customWritetimeIncrement, pkCols))
    t.customTtl.foreach(ttl => d = customTtl(d, ttl))
    d
  }
}
