package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * X28 — Bloom-filter membership prefilter for decontamination-style
 * semi-joins (SURVEY.md §2.11). The reference has no analog; this is the
 * standard scale move for "drop every training shingle that appears in
 * the eval set" when the corpus is 100 TB and the eval side is megabytes:
 * instead of shuffling every (doc, shingle) row into a join, build a
 * fixed-size bitset over the SMALL side once, ship it to every executor,
 * and discard the overwhelming majority of corpus rows map-side. Only
 * Bloom *candidates* (true hits + a tunable false-positive residue) reach
 * the exact verification join, so the final output is exact — a Bloom
 * filter has no false negatives.
 *
 * Layout: `numBits` bits in `numBits/64` longs. Bit positions use
 * Kirsch–Mitzenmacher double hashing (pos_j = h1 + j·h2 mod m, h2 forced
 * odd so the probe sequence cycles through a power-of-two table): k
 * independent-enough probes from one 64-bit input without k hash
 * families. All arithmetic is integer Column expressions — the build is
 * one map-side-combined groupBy over word indexes (≤ numBits/64 groups),
 * the probe is a shuffle-free codegen'd conjunction.
 *
 * Determinism: positions are a pure function of the hash value, so the
 * built words and every membership verdict are independent of
 * partitioning and row order (merge = bitwise OR, commutative).
 */
object Bloom {

  /** Default 2^16 bits = 8 KiB — sized for eval sets of ~5k distinct
   * keys at ~1% false-positive rate with [[Hashes]] = 4. */
  val DefaultBits: Int = 1 << 16

  /** Probe positions per key. */
  val Hashes: Int = 4

  /** Knuth's 32-bit golden-ratio odd constant — the same multiplicative
   * mix Curation's deterministic sampling uses. */
  private val Phi32 = 2654435761L

  /** The k probe positions for hash column `h` (any long; negative values
   * are fine — both probe components go through pmod). The stride mix
   * pre-masks to 31 bits before multiplying so the product stays inside
   * int64 for EVERY input — ANSI mode (Spark 4 default) raises on long
   * overflow rather than wrapping (same guard as Curation's sampler). */
  def positions(h: Column, numBits: Int, k: Int): Seq[Column] = {
    require(numBits > 0 && (numBits & (numBits - 1)) == 0,
      s"numBits must be a power of two, got $numBits")
    require(k >= 1, s"need at least one hash, got $k")
    val m = lit(numBits.toLong)
    val h1 = pmod(h, m)
    // derive the stride from an independent mix of h, forced odd →
    // coprime with the power-of-two table, so k probes cycle distinctly
    val stride = pmod(pmod(h, lit(1L << 31)) * lit(Phi32), m).bitwiseOR(lit(1L))
    (0 until k).map(j => pmod(h1 + lit(j.toLong) * stride, m))
  }

  /** Build the filter over `df(hashCol)` (long hashes): returns the packed
   * word array, length numBits/64. One groupBy on word index (map-side
   * combined, ≤ numBits/64 result rows) + one driver collect of the tiny
   * aggregate — the standard broadcast-build pattern (the small side of a
   * decontamination join is small by construction; the corpus side never
   * moves). */
  def buildWords(df: DataFrame, hashCol: String,
      numBits: Int = DefaultBits): Array[Long] = {
    val pos = explode(array(positions(col(hashCol), numBits, Hashes): _*)).as("__pos")
    // nulls carry no membership: drop them here rather than letting a
    // null position NPE the driver-side word assembly below
    val words = df.filter(col(hashCol).isNotNull).select(pos)
      .select((col("__pos") / 64).cast("int").as("__word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").as("__bit"))
      .groupBy("__word").agg(expr("bit_or(__bit)").as("__bits"))
      .collect()
    val arr = new Array[Long](numBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Past this many FILTER BYTES the probe switches from an embedded
   * array literal to a broadcast variable: an expression-tree literal is
   * copied into every serialized plan fragment, plan string and codegen
   * pass, so a MiB-scale literal taxes the DRIVER on every optimizer
   * traversal — while a broadcast ships once per executor and the
   * expression tree carries only the handle. */
  val BroadcastThresholdBytes: Long = 64L * 1024

  /** Shuffle-free membership probe: true iff every probe bit is set.
   * Two equivalent implementations chosen by filter size (see
   * [[BroadcastThresholdBytes]]): at/below the threshold `words` embeds
   * as an array literal — for an 8 KiB filter that is exactly the
   * task-closure shipping a broadcast variable would do, without leaving
   * the Column algebra; above it the words go through a real broadcast
   * variable read by the codegen'd [[org.apache.spark.sql.graft.BloomProbeExpr]]
   * (same bit semantics, property-tested equivalent). Each call above
   * the threshold broadcasts once — build the Column once and reuse it
   * rather than re-calling per probe site. */
  def mightContain(words: Array[Long], h: Column,
      numBits: Int = DefaultBits): Column = {
    require(numBits > 0 && (numBits & (numBits - 1)) == 0,
      s"numBits must be a power of two, got $numBits") // both paths: the odd
      // stride is coprime (hence full-cycle) only against a power-of-two m
    require(words.length == numBits / 64,
      s"word array length ${words.length} != numBits/64 = ${numBits / 64}")
    if (words.length.toLong * 8 > BroadcastThresholdBytes) {
      val spark = org.apache.spark.sql.SparkSession.active
      val bcast = spark.sparkContext.broadcast(words)
      org.apache.spark.sql.graft.BloomProbeExpr.probe(bcast, h, numBits, Hashes)
    } else {
      val wordsLit = typedLit(words.toSeq)
      positions(h, numBits, Hashes).map { p =>
        val word = element_at(wordsLit, (p / 64).cast("int") + 1)
        val mask = call_function("shiftleft", lit(1L), pmod(p, lit(64L)).cast("int"))
        word.bitwiseAND(mask) =!= 0L
      }.reduce(_ && _)
    }
  }
}
